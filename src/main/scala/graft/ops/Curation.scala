package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators rounding out the training-data pipeline:
  * benchmark decontamination, repetition-based quality signals,
  * source-mix rebalancing, SCD2 change capture, embedding quantization,
  * and duplicate-cluster resolution (connected components).
  *
  * Same portability contract as [[TrainingData]]: md5 is the shared
  * content hash, ratios round through exact integer arithmetic (the q83
  * half-way-point rule), float chains are explicit-double with
  * identical association in both engines, and every query ends with a
  * deterministic total-order sort.
  */
object Curation {

  import Exact.r4

  /** q95: benchmark decontamination — flag training documents sharing
    * any word 3-gram with the held-out eval set (`doc_id % 97 == 0`, a
    * deterministic stand-in for a benchmark suite). The standard
    * n-gram-overlap decontamination pass an LLM pipeline runs before
    * training.
    *
    * Scale shape: the eval side of the join is the BENCHMARK set —
    * small by construction (benchmarks are thousands of documents, not
    * corpora) — so its distinct shingles broadcast and the corpus side
    * never shuffles; cost is one scan of the training shingles plus a
    * per-doc count aggregate. With a corpus-sized right side the same
    * plan degrades to a shuffle join on the shingle, still linear. */
  def q95Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = TrainingData.shingleRows(s, dir).distinct()
    val evalSet = sh.filter(col("doc_id") % 97 === 0)
      .select(col("sh")).distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalSet), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** q187: contamination ATTRIBUTION — q95 flags which training docs
    * share eval-set n-grams; the audit that follows asks WHICH
    * benchmark document leaked and how badly. One row per contaminated
    * training doc naming its strongest eval match: the eval doc
    * sharing the most distinct word 3-grams (tie → lowest eval_doc) —
    * the evidence table a decontamination reviewer signs off on,
    * and the input to per-benchmark leak dashboards.
    *
    * Scale shape: the broadcast side is (shingle, eval_doc) —
    * benchmark-sized like q95's shingle set; per-(train, eval) counts
    * are a partial+final agg, and the per-doc argmax is a struct-max
    * AGGREGATE (max over (n, −eval_doc) pairs — one more partial+final
    * agg), not a window, so no per-doc sort and deterministic ties by
    * construction. */
  def q187ContamAttribution(s: SparkSession, dir: String): DataFrame = {
    val sh = TrainingData.shingleRows(s, dir).distinct()
    val evalSh = sh.filter(col("doc_id") % 97 === 0)
      .select(col("sh"), col("doc_id").as("eval_doc"))
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalSh), "sh")
      .groupBy("doc_id", "eval_doc")
      .agg(count(lit(1)).as("n_shared"))
      .groupBy("doc_id")
      .agg(max(struct(col("n_shared"), (-col("eval_doc")).as("neg")))
        .as("m"))
      .select(col("doc_id"), (-col("m.neg")).as("eval_doc"),
        col("m.n_shared").as("n_shared"))
      .orderBy("doc_id")
  }

  /** q191: the quality-filter AUDIT table — filter EXPLAINABILITY, the
    * companion every rule-based curation stack (Gopher, Dolma,
    * NeMo-Curator) ships: q83 emits one opaque score; when a document
    * is dropped, the reviewer asks WHICH rule fired. One row per
    * (doc, rule) with the rule's measured value and its verdict, for
    * four Gopher-family rules: minimum word count, distinct-word
    * ratio, stopword presence (too few stopwords = unnatural text),
    * and mean word length (too long = code/URLs/gibberish).
    *
    * Exactness: every VERDICT is a pure integer cross-multiplication
    * (2·d ≥ n, 50·st ≥ n, 10·chars ≤ 48·n — no division at the
    * decision point, so no rounding can flip a verdict cross-engine);
    * the reported values use the r4 half-up basis points. Total word
    * characters come from `length(concat_ws(ws))` — codegen'd, not an
    * interpreted HOF fold.
    *
    * Scale: ONE map-only projection per document (no shuffle but the
    * presentation sort); the tall shape is a 4-way `stack`, so the
    * audit of a 100 TB corpus is exactly one corpus scan. Thresholds
    * chosen to produce genuine pass/fail mixes on the testdata
    * (394/219/442/466 of 500 at sf0.01) so the oracle exercises both
    * branches of every rule. */
  def q191QualityAudit(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), expr(WordsArraySql).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n"),
        expr("cast(size(array_distinct(ws)) as bigint)").as("d"),
        expr("cast(size(filter(ws, x -> x in ('the', 'a'))) as bigint)")
          .as("st"),
        length(concat_ws("", col("ws"))).cast("long").as("chars"))
      .select(col("doc_id"), expr(
        s"""stack(4,
          |  'min_words',     n,                                n >= $MinWords,
          |  'uniq_ratio_bp', (2*d*10000 + n) div (2*n),        2*d >= n,
          |  'stop_ratio_bp', (2*st*10000 + n) div (2*n),       50*st >= n,
          |  'word_len_bp',   (2*chars*10000 + n) div (2*n),    10*chars <= 48*n
          |) as (rule, value, passed)""".stripMargin))
      .orderBy("doc_id", "rule")

  /** The ONE whitespace tokenization (array + count forms, Spark +
    * DuckDB twins) and q191's min-words floor — q191 (array form),
    * q223, and q224 (count form) all read these, so the gate's quality
    * check can never decouple from the per-doc rule it claims to
    * aggregate (the ksCtes/cdcLog sharing discipline). */
  private[ops] val WordsArraySql = "filter(split(text, ' '), x -> x != '')"
  private[ops] val WordsArrayDuck =
    "list_filter(string_split(text, ' '), x -> x <> '')"
  private[ops] val WordCountSql = s"cast(size($WordsArraySql) as long)"
  private[ops] val WordCountDuck = s"len($WordsArrayDuck)"
  private[ops] val MinWords = 30

  /** q155: n-gram novelty (OOV-rate) quality gate — the exact-integer
    * cousin of the CCNet-style LM-perplexity filter: score each
    * training document by the fraction of its word bigrams (with
    * multiplicity) never seen in a reference slice of the corpus
    * (`doc_id % 10 == 0`, the stand-in for CCNet's trusted
    * Wikipedia-LM training slice). A mostly-novel bigram stream is
    * gibberish / boilerplate / wrong-language text in exactly the way a
    * high KenLM perplexity is, but counting unseen bigrams keeps the
    * whole compare path in integers (no log/exp — the q83 discipline),
    * so the DuckDB oracle hash-matches bit-exactly.
    *
    * Scale shape: exchanges carry md5 digests, never bigram text (the
    * q117 hash-first discipline), and the per-(doc, bigram)
    * pre-aggregate collapses repeats BEFORE the reference join — a
    * million-fold boilerplate bigram is one row per doc. The reference
    * side distinct-collapses to one row per bigram and the join keys on
    * the digest, hash-partitioned with NO broadcast assumption: unlike
    * q95's eval set (benchmarks are small by nature) the reference here
    * is a corpus fraction, so at 100 TB both sides shuffle once on the
    * digest and the join is a plain shuffled hash join. Documents with
    * fewer than two words carry no bigram and drop out, so the r4
    * denominator is never zero. */
  def q155OovNovelty(s: SparkSession, dir: String): DataFrame =
    oovNovelty(T(s, dir, "documents"))

  /** [[q155OovNovelty]] over an arbitrary (doc_id, text) frame —
    * OovNoveltySpec drives hand-computable fixtures through it. */
  private[ops] def oovNovelty(docs: DataFrame): DataFrame = {
    val wLead = Window.partitionBy("doc_id").orderBy("pos")
    val counts = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
      .withColumn("w1", lead("word", 1).over(wLead))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"),
        md5(concat_ws(" ", col("word"), col("w1"))).as("bgh"))
      .groupBy("doc_id", "bgh")
      .agg(count(lit(1)).as("c"))
      // both join sides branch off the digest counts: materialize the
      // explode+window+aggregate pass once (the q93 assignment-slice
      // discipline), or the corpus-sized bigram pipeline runs twice
      .localCheckpoint(true)
    val ref = counts.filter(col("doc_id") % 10 === 0)
      .select("bgh").distinct().withColumn("hit", lit(1))
    counts.filter(col("doc_id") % 10 =!= 0)
      .join(ref, Seq("bgh"), "left")
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        sum(when(col("hit").isNull, col("c")).otherwise(lit(0L)))
          .as("n_oov"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        r4("n_oov", "n_bigrams").as("oov_ratio"))
      .withColumn("novel", col("oov_ratio") > 0.5)
      .orderBy("doc_id")
  }

  /** q168: compression-ratio quality signal — the holistic cousin of
    * q96's counted repetition ratios: DEFLATE the text at a fixed
    * level and compare compressed to raw bytes. Repetitive
    * boilerplate compresses far below natural text, catching
    * repetition structures no fixed n-gram counter anticipates; the
    * flag fires under 0.45 (the bottom ~quarter of this corpus's
    * near-incompressible synthetic distribution — real web text
    * spreads much wider). The kernel is the codegen'd
    * [[graft.functions.DeflateLen]] (one per-row scalar pass, scan
    * parallel, like md5); the ratio rounds through r4's exact
    * integers. NO DuckDB oracle BY DESIGN — no SQL engine exposes a
    * deflate length — CompressSignalSpec recomputes every row through
    * `java.util.zip` independently and pins the flag classes
    * non-degenerate. */
  def q168CompressSignal(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        length(expr("encode(text, 'utf-8')")).cast("long").as("n_bytes"),
        graft.functions.DeflateLen.len(col("text")).as("deflate_bytes"))
      .select(col("doc_id"), col("n_bytes"), col("deflate_bytes"),
        r4("deflate_bytes", "n_bytes").as("compress_ratio"))
      .withColumn("repetitive", col("compress_ratio") < 0.45)
      .orderBy("doc_id")

  /** q172: importance-weighted data selection (DSIR-shaped — Xie et
    * al., "Data Selection via Importance Resampling"): score each raw
    * document by how target-like its hashed n-gram feature profile is,
    * and admit the top-k. Features are word bigrams hashed into 256
    * buckets (DSIR's hashed-ngram feature space); the target is the
    * trusted corpus slice (`doc_id % 10 = 0`, q155's reference
    * convention). Where DSIR scores log(p_target/p_raw), this keeps
    * the compare path exact-integer (the q83/q155 discipline): each
    * bucket carries the 2²⁰-scaled posterior odds
    * `Q(b) = ⌊2²⁰·T·S_r / (T·S_r + R·S_t)⌋` — the probability the
    * bucket's occurrence came from the target under equal priors, a
    * monotone transform of the likelihood ratio computed entirely from
    * the four counts in arbitrary-precision integers — and a document
    * scores the c-weighted sum of its buckets' odds. No logs, no
    * doubles, so the DuckDB oracle (HUGEINT arithmetic) matches
    * bit-exactly at any magnitude.
    *
    * Scale shape: the per-(doc, bucket) pre-aggregate collapses
    * repeats before anything else (exchanges carry one int bucket id,
    * never bigram text); the bucket profile is ≤256 rows BY
    * CONSTRUCTION (the feature-hash width, constant in corpus size) —
    * the one bounded collect, recomputed in exact BigInt on the
    * driver and broadcast back; the admission is a top-k
    * (TakeOrdered), never a global sort. The digest-count pass is
    * materialized once (localCheckpoint) because both the bucket
    * profile and the scoring branch read it. */
  def q172ImportanceSelect(s: SparkSession, dir: String): DataFrame = {
    val wLead = Window.partitionBy("doc_id").orderBy("pos")
    val buckets = T(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
      .withColumn("w1", lead("word", 1).over(wLead))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(concat_ws(' ', word, w1)), 1, 2), " +
          "16, 10) as int)").as("b"))
      .groupBy("doc_id", "b")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val perBucket = buckets
      .groupBy("b")
      .agg(sum(when(col("doc_id") % 10 === 0, col("c")).otherwise(0L))
          .as("t"),
        sum(when(col("doc_id") % 10 =!= 0, col("c")).otherwise(0L)).as("r"))
      .collect()
    val st = perBucket.map(_.getLong(1)).sum
    val sr = perBucket.map(_.getLong(2)).sum
    val qRows = perBucket.map { row =>
      val t = BigInt(row.getLong(1))
      val r = BigInt(row.getLong(2))
      val den = t * sr + r * st
      val q = if (den == 0) 0L
      else (((BigInt(1) << 20) * t * sr) / den).toLong
      (row.getInt(0), q)
    }.toSeq
    val spark = s
    import spark.implicits._
    val qDf = broadcast(qRows.toDF("b", "q"))
    buckets.filter(col("doc_id") % 10 =!= 0)
      .join(qDf, "b")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("q")).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(100)
  }

  /** q178: quality-argmax representative selection — the "keep the
    * BEST, not the first" dedup policy: q105's curation flagship keeps
    * the smallest doc_id per near-dup cluster (deterministic but
    * quality-blind); real pipelines keep the highest-quality member —
    * the policy choice that decides what 100 TB of near-duplicate web
    * text actually contributes. Clusters are q100's connected
    * components over the q72 MinHash edges; quality is q83's exact
    * basis points; the keeper is the (quality desc, doc_id) window
    * head per cluster — the per-cluster window is safe HERE because
    * banding bounds cluster size (the q109 escape hatch exists when it
    * can't). `differs` flags clusters where the quality argmax is NOT
    * the min-id keeper — the mass q105's policy would have thrown
    * away wrongly under a quality lens. */
  def q178BestOfCluster(s: SparkSession, dir: String): DataFrame =
    memberKeepers(s, dir)
      .groupBy("root")
      .agg(max("keeper").as("keeper"),
        max(when(col("node") === col("keeper"), col("qbp")))
          .as("keeper_qbp"),
        count(lit(1)).as("n_docs"),
        min(col("node")).as("min_id"))
      .select(col("root").as("cluster_root"), col("keeper"),
        col("keeper_qbp"), col("n_docs"),
        (col("keeper") =!= col("min_id")).as("differs"))
      .orderBy("cluster_root")

  /** Member-level cluster/keeper frame behind q178 and the q181
    * flagship: every near-dup cluster member with its root, its q83
    * quality basis points, and the cluster's quality-argmax KEEPER —
    * `(root, node, qbp, keeper)`. The per-cluster window is
    * banding-bounded (the q178 scaladoc's argument). */
  private[ops] def memberKeepers(s: SparkSession, dir: String): DataFrame =
    memberKeepersOver(s, dir, qualityBp(s, dir))

  /** `(doc_id, qbp)` — q83's quality in exact basis points. */
  private def qualityBp(s: SparkSession, dir: String): DataFrame =
    TrainingData.q83QualityScore(s, dir)
      .select(col("doc_id"),
        expr("cast(round(quality * 10000) as bigint)").as("qbp"))

  /** [[memberKeepers]] over a caller-supplied quality frame — q181
    * materializes the quality scan ONCE and threads it into both the
    * keeper window and its own curriculum buckets (the q155/q172
    * shared-pass discipline: a composed pipeline must not recompute a
    * corpus-sized projection per consumer). */
  private def memberKeepersOver(s: SparkSession, dir: String,
                                quality: DataFrame): DataFrame = {
    val members = connectedComponents(
      TrainingData.minhashPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    val w = Window.partitionBy("root")
      .orderBy(col("qbp").desc, col("node"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    members.join(quality, col("node") === col("doc_id"))
      .withColumn("keeper", first("node").over(w))
      .select("root", "node", "qbp", "keeper")
  }

  /** q181: the data-SELECTION flagship — the fourth composed pipeline
    * (q105 curates, q130 mixes, q165 budgets; q181 SELECTS): the
    * end-to-end shape of a targeted-data run, built only from shipped
    * stages. (1) q172's importance selection admits the 100 most
    * target-like raw documents (hashed-bigram posterior odds, exact
    * integers); (2) q178's keeper policy deduplicates the selection —
    * a selected doc that is a near-dup cluster member survives only if
    * it IS the cluster's quality-argmax representative (the corpus has
    * one canonical copy; the selection admits only canon); (3) the
    * survivors are curriculum-ordered (q171's quality-decile-desc +
    * md5-ticket schedule). Output: the ordered training schedule with
    * each doc's decile and importance score.
    *
    * Scale: stages 1–2 inherit their audited shapes; stage 3 is
    * ≤ 100 rows BY CONSTRUCTION (the q172 top-k) and still runs
    * through q171's two-pass [[ScalableRank]] — trivial at this size,
    * but it keeps the library's no-single-task-window invariant
    * ABSOLUTE (PlanShapeSpec sweeps every declared query; an
    * exemption list is how invariants rot). */
  def q181SelectionPipeline(s: SparkSession, dir: String): DataFrame = {
    val selected = q172ImportanceSelect(s, dir)
    // the quality projection is corpus-sized and feeds BOTH the keeper
    // window and the curriculum buckets: materialize it once
    val quality = qualityBp(s, dir).localCheckpoint(true)
    val keepers = memberKeepersOver(s, dir, quality)
      .select("node", "keeper")
    val survivors = selected
      .join(keepers, selected("doc_id") === keepers("node"), "left")
      .filter(col("keeper").isNull || col("keeper") === col("doc_id"))
      .select("doc_id", "score")
    val buckets = quality
      .select(col("doc_id"), expr("qbp div 1000").as("bucket"))
    val keyed = survivors.join(buckets, "doc_id")
      .withColumn("skey", expr(
        "cast(conv(substring(md5(concat('cur:', " +
          "cast(doc_id as string))), 1, 12), 16, 10) as bigint)"))
      .withColumn("negb", -col("bucket"))
    ScalableRank.withGlobalRowNumber(keyed, "pos",
        col("negb"), col("skey"), col("doc_id"))
      .select("pos", "doc_id", "bucket", "score")
      .orderBy("pos")
  }

  /** q96: repetition quality signals (Gopher-style) — per document, the
    * top-word mass ratio and the duplicate-bigram ratio, plus the
    * repetition flag at the 0.2 threshold. Highly repetitious text is
    * the classic low-quality signal these filters exist to catch.
    *
    * Two partial+final aggregates keyed on doc_id (word counts via
    * (doc, word) sub-aggregate; bigrams via the shingle lead-window
    * shape), joined per doc — no HOF lambdas in the hot path, all
    * ratios through exact-integer rounding. */
  def q96RepetitionSignals(s: SparkSession, dir: String): DataFrame = {
    val words = T(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
    val top = words.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"), max("c").as("top_c"))
    val wLead = Window.partitionBy("doc_id").orderBy("pos")
    val bg = words
      .withColumn("w1", lead("word", 1).over(wLead))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("word"), col("w1")).as("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"), countDistinct(col("bg")).as("n_bg_d"))
    top.join(bg, "doc_id")
      .select(col("doc_id"), col("n_words"),
        r4("top_c", "n_words").as("top_word_ratio"),
        r4("n_bg - n_bg_d", "n_bg").as("dup_bigram_ratio"))
      .withColumn("repetitious",
        col("top_word_ratio") > 0.2 || col("dup_bigram_ratio") > 0.2)
      .orderBy("doc_id")
  }

  /** q97: source-mix rebalancing — downsample every source toward a
    * common cap (half the mean source size) by deterministic hash
    * threshold, reporting before/after counts per source. The
    * data-mixing step that flattens a corpus dominated by a few crawls.
    *
    * Scale shape: membership is `hash16(doc_id) · n_source < cap · 2¹⁶`
    * — a pure projection filter against a broadcast per-source count,
    * NOT a per-source row_number cap. The rank formulation needs a
    * window partitioned by source, and source is the textbook skewed
    * key (one crawl = billions of rows in one partition); the hash
    * threshold keeps ≈cap docs per source (exact-count caps need the
    * rank), is machine-stable, and stays stable under incremental
    * appends. The only driver-sized data is the per-source count table
    * and the 1-row global aggregate (a bounded broadcast crossJoin,
    * PlanShapeSpec-listed). */
  def q97SourceRebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
    val g = counts.agg(sum("n_before").as("total"), count(lit(1)).as("ns"))
    val kept = docs.select("doc_id", "source")
      .join(broadcast(counts), "source")
      .crossJoin(broadcast(g))
      .filter(TrainingData.md5Hash16
        * col("n_before") < expr("total div (2 * ns)") * 65536)
      .groupBy("source")
      .agg(count(lit(1)).as("n_after"))
    counts.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .orderBy("source")
  }

  /** q98: SCD2 change capture — compress each customer's order-status
    * history to its change points and emit slowly-changing-dimension
    * type-2 validity intervals (valid_from / valid_to / is_current).
    * The merge step every warehouse integration (the reference's whole
    * domain) runs on CDC feeds.
    *
    * One shuffle: both windows (the lag that finds change points and
    * the lead that closes intervals) share the same
    * partition-by-custkey order, so Spark reuses the exchange+sort.
    * `chg_orderkey` rides along to give the output a total order —
    * two same-day status flips would otherwise tie. */
  def q98Scd2Merge(s: SparkSession, dir: String): DataFrame =
    scd2Core(T(s, dir, "orders"))
      .orderBy("custkey", "valid_from", "chg_orderkey")

  /** q183: CDC log COMPACTION — the latest-snapshot materialization
    * every change-data-capture consumer runs (q98's SCD2 keeps the
    * HISTORY; q183 collapses the log to "now"): per key, the
    * highest-sequence operation wins, and a DELETE tombstone winning
    * means the key is GONE from the snapshot — the semantics q71's
    * plain latest-wins dedup cannot express. The log is a
    * deterministic in-query derivation from orders (every key an
    * INSERT; every 5th also an UPDATE at +10; every 7th also a
    * DELETE), so the DuckDB oracle can verify SEMANTICALLY — it
    * recomputes the expected snapshot straight from the base table,
    * never mirroring the log mechanics, which makes it a genuinely
    * independent check of the compaction.
    *
    * Scale shape: one `max_by(struct, seq)` partial+final aggregate on
    * the key — NO per-key window, no sort; the tombstone filter is a
    * post-aggregate projection. At 100 TB this is the standard
    * log-to-snapshot job: one shuffle of (key, latest-op) cells. */
  /** [[cdcLog]]'s highest sequence number — INTERPOLATED into the
    * fixture's DELETE entry below (the delete is the last op by
    * construction), so q221's visibility explode cannot drift from the
    * fixture: a new op belongs at seq [[CdcMaxSeq]] after bumping it,
    * and a stale constant would change the fixture itself rather than
    * silently producing a descending `sequence(3, 2)`. */
  private val CdcMaxSeq = 2

  /** The derived CDC log fixture shared by q183 (latest compaction) and
    * q221 (time travel): per order an INSERT at seq 0, an UPDATE
    * (+10.00) at seq 1 for keys ≡ 0 (mod 5), a DELETE at seq
    * [[CdcMaxSeq]] for keys ≡ 0 (mod 7) — `(k, e.seq, e.op, e.price)`
    * rows. */
  private def cdcLog(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
      .select(col("k"), explode(expr(
        s"""filter(array(
          |  named_struct('seq', 0, 'op', 'I', 'price', o_totalprice),
          |  named_struct('seq', 1, 'op', 'U', 'price', o_totalprice + 10.0d),
          |  named_struct('seq', $CdcMaxSeq, 'op', 'D', 'price', cast(null as double))),
          |  x -> x.seq = 0 OR (x.seq = 1 AND k % 5 = 0)
          |               OR (x.seq = $CdcMaxSeq AND k % 7 = 0))""".stripMargin))
        .as("e"))

  def q183CdcCompact(s: SparkSession, dir: String): DataFrame =
    cdcLog(s, dir)
      .groupBy("k")
      .agg(count(lit(1)).as("n_ops"),
        max_by(col("e.op"), col("e.seq")).as("_op"),
        max_by(col("e.price"), col("e.seq")).as("_price"))
      .filter(col("_op") =!= "D")
      .select(col("k").as("o_orderkey"), col("n_ops"),
        expr("cast(round(_price * 100) as bigint)").as("price_c2"))
      .orderBy("o_orderkey")

  /** q221: time-travel read — the versioned-table `AS OF` every
    * lakehouse ships (Delta/Iceberg snapshot reads): reconstruct the
    * compacted snapshot at EVERY version of the q183 CDC log in one
    * query — `(as_of, o_orderkey, n_ops, price_c2)`, where version v
    * sees exactly the ops with seq ≤ v.
    *
    * Scale shape: ONE log scan — each op row explodes to the versions
    * it is visible in (`sequence(seq, maxSeq)`, a bounded ≤3-row
    * Generate; generally ≤|versions|) — then q183's max_by compaction
    * runs per (as_of, key) in a single partial+final aggregate. That
    * beats the naive per-version recompute (V log scans) and mirrors
    * how a real snapshot reader materializes multiple versions in one
    * pass. The tombstone filter applies per version, so a key deleted
    * at v2 still appears in the v0/v1 snapshots — exactly the
    * time-travel contract. The oracle recomputes each version's
    * snapshot INDEPENDENTLY from the base table (semantic ground
    * truth, never mirroring the explode). */
  def q221TimeTravel(s: SparkSession, dir: String): DataFrame =
    cdcLog(s, dir)
      .select(col("k"), col("e"),
        explode(expr(s"sequence(e.seq, $CdcMaxSeq)")).as("as_of"))
      .groupBy("as_of", "k")
      .agg(count(lit(1)).as("n_ops"),
        max_by(col("e.op"), col("e.seq")).as("_op"),
        max_by(col("e.price"), col("e.seq")).as("_price"))
      .filter(col("_op") =!= "D")
      .select(col("as_of"), col("k").as("o_orderkey"), col("n_ops"),
        expr("cast(round(_price * 100) as bigint)").as("price_c2"))
      .orderBy("as_of", "o_orderkey")

  private val DayUs = T.DayUs

  /** q247: BITEMPORAL point-in-time read — the two-axis reconstruction
    * q221 (transaction-time travel) and q197 (valid-time PIT) each do
    * HALF of: "as the warehouse KNEW it at transaction T, what was
    * EFFECTIVE at business time V". The axes genuinely differ — a
    * correction can be recorded late but effective early (retroactive),
    * or recorded now but effective next month (proactive) — and
    * auditing/restatement workloads need both: reproduce last quarter's
    * report (old T) under today's business calendar (any V), or today's
    * knowledge (max T) about a past effective date.
    *
    * Fixture (derived, the cdcLog discipline, so the oracle rebuilds it
    * verbatim from orders): INSERT at seq 0 effective from the order
    * date; for keys ≡ 0 (mod 5) a PROACTIVE price update at seq 1
    * effective +30 days; for keys ≡ 0 (mod 7) a cancellation at seq 2
    * effective +60 days. The (T, V) report grid — T ∈ {0,1,2} ×
    * V ∈ order date + {15,45,75} days — makes both axes move: the
    * update is known at T ≥ 1 but effective only at V ≥ +30; the
    * delete is known at T = 2 but kills the row only at V ≥ +60.
    *
    * Resolution rule (the bitemporal standard): among ops with
    * seq ≤ T and valid_from ≤ V, the LATEST valid_from wins, ties by
    * seq — one packed BIGINT ordering key (`vf·4 + seq`, exact: µs
    * epochs sit well under 2⁶¹) under max_by, the q183 aggregate shape.
    *
    * Scale shape (r18 — guide §2.3, aggregate before you shuffle,
    * taken to its limit: ZERO corpus shuffles where the r17 shape paid
    * two): every op of a key derives from that key's single orders row,
    * so the per-(cell, key) resolution never needed the (t, voff, key)
    * max_by exchange — the 9-cell grid rides a Generate (literal array
    * explode; grid size is report policy, bounded) and each cell
    * resolves by a HOF argmax over the row's own ≤3-element op array
    * (same `vf·4 + seq` packed ordering — d0 is constant within a key,
    * so `vfo·4 + seq` orders identically). The only exchange left is
    * the 9-row partial+final report aggregate, which combines map-side.
    * All time arithmetic on exact µs BIGINTs. */
  def q247BitemporalPit(s: SparkSession, dir: String): DataFrame = {
    val grid = for (t <- 0 to 2; v <- Seq(15, 45, 75))
      yield s"named_struct('t', $t, 'voff', $v)"
    T(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        expr("unix_micros(cast(o_orderdate as timestamp))").as("d0"),
        col("o_totalprice"))
      .select(col("k"), col("d0"), expr(
        s"""filter(array(
          |  named_struct('seq', 0, 'op', 'I', 'vfo', 0, 'price', o_totalprice),
          |  named_struct('seq', 1, 'op', 'U', 'vfo', 30, 'price', o_totalprice + 10.0d),
          |  named_struct('seq', 2, 'op', 'D', 'vfo', 60, 'price', cast(null as double))),
          |  x -> x.seq = 0 OR (x.seq = 1 AND k % 5 = 0)
          |               OR (x.seq = 2 AND k % 7 = 0))""".stripMargin).as("ops"))
      .select(col("k"), col("d0"), col("ops"),
        explode(expr(s"array(${grid.mkString(", ")})")).as("g"))
      // per-cell resolution: latest valid_from among eligible ops, ties
      // by seq — the HOF fold replaces the former corpus-grain max_by
      // aggregate (seq 0 is always eligible, so `best` is never null)
      .select(col("g.t").as("t"), col("g.voff").as("voff"), expr(
        """aggregate(
          |  filter(ops, x -> x.seq <= g.t AND x.vfo <= g.voff),
          |  cast(null as struct<seq:int,op:string,vfo:int,price:double>),
          |  (acc, x) -> CASE WHEN acc IS NULL
          |                     OR x.vfo * 4 + x.seq > acc.vfo * 4 + acc.seq
          |                   THEN x ELSE acc END)""".stripMargin).as("best"))
      .filter(col("best.op") =!= "D")
      .groupBy("t", "voff")
      .agg(count(lit(1)).as("n_live"),
        sum(expr("cast(round(best.price * 100) as bigint)"))
          .as("sum_price_c2"))
      .orderBy("t", "voff")
  }

  /** q236: GOLDEN-RECORD survivorship — the master-data-management
    * merge that q178's whole-row argmax cannot express: when an entity
    * arrives from several source systems with PARTIAL, overlapping
    * fields, the golden record takes each FIELD independently from the
    * highest-recency source that has it non-null, with per-field
    * provenance. A whole-row latest-wins (q71/q183) would take the
    * newest record and keep its nulls; survivorship fills every field
    * the union of sources can fill — GoldenRecordSpec pins an explicit
    * key where the two semantics genuinely differ.
    *
    * Fixture (derived, the cdcLog discipline — one scan, explode of a
    * filtered struct array, so the oracle can rebuild it verbatim):
    * three source systems over customer —
    *  - `crm` (recency 3, even keys): name (UPPER-cased) + nation key only;
    *  - `billing` (recency 2, keys ≡ 0 mod 3): balance cents + segment
    *    only;
    *  - `legacy` (recency 1, every key): all four fields, balance
    *    stale by 7 cents.
    *
    * Scale shape: ONE partial+final `max_by(field, CASE WHEN field IS
    * NOT NULL THEN recency END)` aggregate per field on the entity key
    * — no per-entity window, no sort, no self-join; both engines skip
    * null ordering keys in max_by, and recencies are distinct per
    * (key, source) by construction, so no tie-break ambiguity exists.
    * At 100 TB this is the standard MDM consolidation: one shuffle of
    * (key, field-cells), map-side-combined. Balance rides integer
    * cents (the q183 `round(×100)` cast, exact on 2-decimal inputs). */
  def q236GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    def pick(field: String) = Seq(
      max_by(col(s"e.$field"),
        when(col(s"e.$field").isNotNull, col("e.rank"))).as(field),
      max_by(col("e.src"),
        when(col(s"e.$field").isNotNull, col("e.rank"))).as(s"${field}_src"))
    T(s, dir, "customer")
      .select(col("c_custkey").as("k"), explode(expr(
        """filter(array(
          |  named_struct('src', 'crm', 'rank', 3, 'name', upper(c_name),
          |               'nkey', cast(c_nationkey as bigint),
          |               'bal_c2', cast(null as bigint),
          |               'seg', cast(null as string)),
          |  named_struct('src', 'billing', 'rank', 2,
          |               'name', cast(null as string),
          |               'nkey', cast(null as bigint),
          |               'bal_c2', cast(round(c_acctbal * 100) as bigint),
          |               'seg', c_mktsegment),
          |  named_struct('src', 'legacy', 'rank', 1, 'name', c_name,
          |               'nkey', cast(c_nationkey as bigint),
          |               'bal_c2', cast(round(c_acctbal * 100) as bigint) - 7L,
          |               'seg', c_mktsegment)),
          |  x -> (x.rank = 3 AND c_custkey % 2 = 0)
          |    OR (x.rank = 2 AND c_custkey % 3 = 0)
          |    OR x.rank = 1)""".stripMargin)).as("e"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_records"),
        (pick("name") ++ pick("nkey") ++ pick("bal_c2") ++ pick("seg")): _*)
      .select(col("k").as("custkey"), col("n_records"),
        col("name"), col("name_src"), col("nkey"), col("nkey_src"),
        col("bal_c2"), col("bal_c2_src"), col("seg"), col("seg_src"))
      .orderBy("custkey")
  }

  /** The q98 core on any `(o_custkey, o_orderstatus, o_orderdate,
    * o_orderkey)` frame — separated so CurationProps can cross-check the
    * lag/lead formulation against an independent run-compression scan
    * (the DuckDB oracle runs the SAME formulation). */
  private[ops] def scd2Core(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders
      .withColumn("prev", lag("o_orderstatus", 1).over(w))
      .filter(col("prev").isNull || col("o_orderstatus") =!= col("prev"))
      .withColumn("valid_to", lead("o_orderdate", 1).over(w))
      .select(col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current"),
        col("o_orderkey").as("chg_orderkey"))
  }

  /** q197: POINT-IN-TIME lookup against the q98 SCD2 dimension — the
    * consuming half of the warehouse story (q98 materializes history,
    * q183 materializes "now"; nothing yet answered "which version was
    * true WHEN this fact happened", the join every type-2 dimension
    * exists for). Each order resolves the customer-status version
    * valid at its own `o_orderdate`:
    * `valid_from <= ts AND (valid_to IS NULL OR ts < valid_to)` —
    * half-open intervals, so a fact ON a change date lands in the NEW
    * version, and same-day flips (empty [d, d) intervals) can never
    * double-match; every fact matches exactly one version by
    * construction (intervals partition [first_change, ∞) per key).
    *
    * Scale shape: equi-join on custkey with the interval predicate as
    * a residual (q25's range-join class — never a cartesian); the
    * dimension side is change-compressed (≪ facts) so it broadcasts;
    * at 100 TB with a large dimension the same plan SMJs on custkey
    * with the residual applied per-row. One output row per fact. */
  def q197Scd2Pit(s: SparkSession, dir: String): DataFrame = {
    val facts = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val dim = scd2Core(T(s, dir, "orders"))
    facts.join(broadcast(dim),
        col("o_custkey") === col("custkey") &&
          col("o_orderdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .select(col("o_orderkey"), col("custkey"),
        col("status").as("status_at"), col("is_current"),
        col("chg_orderkey").as("version_key"))
      .orderBy("o_orderkey")
  }

  /** q99: int8 embedding quantization — symmetric per-vector scaling
    * (scale = max |x|, code = ⌊x·127/scale + 0.5⌋), reporting per-label
    * vector counts, an exact integer code checksum, and the mean
    * reconstruction SSE. The compression pass a vector store applies
    * before indexing at scale.
    *
    * Pure projection + one aggregate; the per-element folds are HOF
    * `aggregate` chains whose left-association matches DuckDB's
    * `list_sum` term-for-term (same IEEE sums both sides — the q86
    * bit-exactness argument). `floor(x + 0.5)` rather than `round`:
    * floor of a double is exact in both engines, while half-up
    * `round` re-derives a decimal representation Spark and DuckDB
    * disagree on. The squared error is written as an explicit product,
    * not `pow` (libm pow vs Java Math.pow may differ in the last ulp).
    * Each intermediate (scale, codes) is referenced twice downstream,
    * which keeps CollapseProject from inlining it into the lambdas. */
  def q99EmbedQuantize(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "embeddings")
      .withColumn("scale",
        expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .withColumn("codes", expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 127.0d / scale + 0.5d) as bigint))"))
      .withColumn("code_sum", expr("aggregate(codes, 0L, (a, c) -> a + c)"))
      .withColumn("sse", expr(
        """aggregate(zip_with(embedding, codes,
          |  (x, c) -> (cast(x as double) - c * scale / 127.0d)
          |          * (cast(x as double) - c * scale / 127.0d)),
          |  0d, (a, v) -> a + v)""".stripMargin))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum("code_sum").as("code_checksum"),
        round(avg("sse"), 6).as("avg_sse"))
      .orderBy("label")

  /** q100: duplicate-cluster resolution — connected components over the
    * q72 MinHash candidate edges, so transitively-linked near-dups
    * collapse into one cluster (the step between pair detection and
    * "keep one representative per cluster").
    *
    * Hash-to-min label propagation: every node starts as its own root;
    * each round joins labels across edges and takes the per-node min;
    * converged when no label shrinks. Each round is a distributed
    * join + aggregate — the driver sees ONLY the scalar changed-count
    * (and the per-round localCheckpoint truncates the growing lineage).
    * Rounds are bounded by component diameter — near-dup clusters are
    * dense and shallow (2-7 rounds here). For adversarial long-chain
    * components, [[connectedComponentsStar]] ships the large-star/
    * small-star rewrite (Kiveris et al., CC in MapReduce): same
    * join-aggregate primitive and output contract, provably
    * logarithmic rounds (CurationSpec: a 256-link chain in ≤15 rounds
    * where hash-to-min would take ~256). Hash-to-min stays the default
    * here because shallow clusters converge faster under it. */
  def q100DupClusters(s: SparkSession, dir: String): DataFrame =
    dupClusters(s, dir, connectedComponents)

  /** q106: q100's exact output contract through the OTHER connected-
    * components implementation — [[connectedComponentsStar]]'s
    * logarithmic-round star contraction — so the adversarial-diameter
    * path is driver-verified against the same DuckDB recursive-CTE
    * oracle, not just ScalaTest-pinned. Identical results by
    * construction (same fixpoint); what differs is the round bound. */
  def q106DupClustersStar(s: SparkSession, dir: String): DataFrame =
    dupClusters(s, dir, connectedComponentsStar)

  /** q217: leakage-safe train/val/test split — the assignment every
    * eval-honest training pipeline needs: a document's split is decided
    * by its NEAR-DUP CLUSTER, not its own id, so two near-duplicates
    * can never straddle train and test (the q89 hash-split leaks
    * exactly that way — each doc hashes independently, and a near-dup
    * pair lands in different splits with probability 1−Σpᵢ²; this is
    * the contamination q95 then has to detect after the fact —
    * assigning by cluster prevents it at split time).
    *
    * Mechanics: clusters are the q100 connected components over the q72
    * MinHash candidate edges (min-doc-id root = the cluster's stable
    * representative); singletons — docs in no candidate pair — are their
    * own representative via a left join + coalesce. The representative's
    * md5 ticket (the q89 discipline, applied once per GROUP) buckets
    * 0-7/8/9 → train/val/test, so membership is engine-exact and
    * re-running on a grown corpus moves a doc only if its CLUSTER
    * changed.
    *
    * Scale shape: the CC rounds are the q100 machinery (join +
    * min-aggregate per round, scalar-only driver traffic); the split
    * itself is one docs-sized left join on doc_id plus a map-side hash
    * projection. Output is docs-sized; GroupSplitSpec pins the
    * no-straddle invariant and both leakage counterfactuals. */
  def q217GroupSplit(s: SparkSession, dir: String): DataFrame = {
    val pairs = TrainingData.minhashPairs(s, dir)
    val labels = connectedComponents(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
    T(s, dir, "documents").select("doc_id")
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("group_rep"))
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('split:', " +
          "cast(group_rep as string))), 1, 12), 16, 10) as bigint) % 10"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
      .select("doc_id", "group_rep", "split")
      .orderBy("doc_id")
  }

  /** q312: the dedup ROI curve — token mass by duplicate-cluster size,
    * the gauge an engineer consults BEFORE choosing dedup
    * aggressiveness: q100/q106 report the clusters and q304 reports
    * line-survival AFTER a policy ran, but "what share of my tokens
    * sits in near-dup clusters of size ≥ k" is what decides whether
    * cluster-drop (q105's policy), keep-one, or nothing is worth its
    * recall cost. Buckets are ⌊log₂ size⌋ via the bitlen trick
    * (`length(bin(sz)) − 1`, the q211 discipline — no libm), so the
    * curve is a handful of rows at any corpus size; singletons
    * (bucket 0) carry the non-duplicated mass and make the rows sum to
    * the whole corpus — Σ n_docs = |corpus|, Σ tok_mass = total
    * tokens, both pinned by DupMassSpec.
    *
    * Scale shape: the q72 band edges + the q100 log-round CC (shared
    * [[connectedComponents]] — one job per round, per-round
    * localCheckpoint), a doc-keyed left join seating singletons via
    * coalesce (q217's pattern), two partial+final aggregates
    * (cluster-sized, then bucket-sized), and a 1-row total broadcast
    * for the bp share (q127's totals class, exemption-listed) DERIVED
    * from the checkpointed curve itself — buckets partition the
    * corpus, so Σ tok_mass IS the denominator and no second corpus
    * scan+tokenize ever runs. Token counts are q84's whitespace
    * contract; shares floor to bp. */
  def q312DupMassCurve(s: SparkSession, dir: String): DataFrame = {
    val pairs = TrainingData.minhashPairs(s, dir)
    val labels = connectedComponents(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
    val docs = T(s, dir, "documents").select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tok"))
    val curve = docs
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("tok"), coalesce(col("root"), col("doc_id")).as("cluster"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("sz"), sum("tok").as("ctok"))
      .withColumn("b", expr("cast(length(bin(sz)) - 1 as bigint)"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"),
        sum("ctok").as("tok_mass"))
      .localCheckpoint() // ⌊log₂⌋-bucket-count rows (≤ ~40 ever)
    // the bp denominator is DERIVED from the curve itself (buckets
    // partition the corpus, so Σ tok_mass = total tokens) — never a
    // second corpus scan+tokenize just for a denominator (r16 review);
    // the checkpointed handful of rows feeds both consumers
    curve
      .crossJoin(broadcast(curve.agg(sum("tok_mass").as("ttok"))))
      .withColumn("mass_bp", expr("(tok_mass * 10000) div ttok"))
      .select("b", "n_clusters", "n_docs", "tok_mass", "mass_bp")
      .orderBy("b")
  }

  /** q314: the quality-filter YIELD CURVE — q312's knob-setting role
    * applied to the quality gate: before deploying a cutoff, the
    * engineer asks "what does admitting only quality ≥ t cost in
    * documents and tokens?" (q83 scores, q171/q172 consume scores under
    * a GIVEN policy; nothing priced the policy). One row per decile
    * threshold t: docs and tokens surviving `qbp ≥ 1000·t`, and both
    * survival shares in bp — read top-down, the curve is the
    * yield-vs-selectivity trade the cutoff decision is made on.
    *
    * Exactness: qbp is q83's exact integer basis-point score (recovered
    * via `round(quality·10⁴)` — q171's discipline, same oracle `k` CTE
    * chain), so bucket membership is bit-identical cross-engine.
    *
    * Scale shape: ONE corpus scan (q83's projection) into an
    * ≤11-bucket aggregate; the suffix-cumulative yield needs NO window
    * — each bucket row explodes to the thresholds it satisfies (≤11
    * fan-out on an 11-row frame, q307's dense-grid discipline) and
    * re-aggregates; denominators derive from the checkpointed bucket
    * frame itself (q312's rule — never a second corpus scan for a
    * denominator); the 1-row totals broadcast is q127's class,
    * exemption-listed. */
  def q314QualityYieldCurve(s: SparkSession, dir: String): DataFrame = {
    val buckets = TrainingData.q83QualityScore(s, dir)
      .select(expr("cast(round(quality * 10000) as bigint) div 1000")
        .as("bucket"), col("n_words").as("tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("bd"), sum("tok").as("bt"))
      .localCheckpoint() // ≤11 rows by construction
    buckets
      .select(explode(expr("sequence(0L, bucket)")).as("thr"),
        col("bd"), col("bt"))
      .groupBy("thr")
      .agg(sum("bd").as("n_docs"), sum("bt").as("n_tok"))
      .crossJoin(broadcast(
        buckets.agg(sum("bd").as("td"), sum("bt").as("tt"))))
      .withColumn("doc_bp", expr("(n_docs * 10000) div td"))
      .withColumn("tok_bp", expr("(n_tok * 10000) div tt"))
      .select("thr", "n_docs", "n_tok", "doc_bp", "tok_bp")
      .orderBy("thr")
  }

  /** Shared q100/q106 body: cluster the q72 MinHash candidate edges
    * with the given components routine, then summarize per cluster. */
  private def dupClusters(s: SparkSession, dir: String,
                          cc: DataFrame => DataFrame): DataFrame = {
    val pairs = TrainingData.minhashPairs(s, dir)
    cc(pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .groupBy("root")
      .agg(count(lit(1)).as("n_docs"), max("node").as("max_doc"))
      .select(col("root").as("cluster_root"), col("n_docs"), col("max_doc"))
      .orderBy("cluster_root")
  }

  // Round caps of the two convergence loops. Hash-min needs diameter
  // + 1 rounds: its graded callers (q100, q105, q109, q178, q217,
  // q312) took 2-3 rounds at sf0.001 and sf0.01 and 4-7 at sf0.1, and
  // CurationSpec's 15-link chain takes 16 — a component deeper than
  // the cap belongs on the star path. Star rounds grow with log n: q106
  // took 2-3 rounds at sf0.001-0.1, and CurationSpec's 256-link chain
  // takes 9.
  private[ops] val HashMinCap = 32
  private[ops] val StarCap = 32

  /** Hash-to-min connected components over an undirected edge list
    * (given as one direction; symmetrized here): returns `(node, root)`
    * with root = the component's minimum node id. Each round is a
    * distributed join + min-aggregate; only the scalar changed-count
    * reaches the driver, and the per-round localCheckpoint truncates
    * the growing lineage. A component needing more than [[HashMinCap]]
    * rounds fails loudly; see [[q100DupClusters]] for the
    * adversarial-diameter scaling note. */
  private[ops] def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    val labels0 = edges.select(col("a").as("node")).distinct()
      .withColumn("root", col("node"))
      .localCheckpoint(true)
    // the label frame is node-sized every round; its row count rides the
    // SAME per-round aggregate that counts changed roots (no extra job),
    // so round 1 runs at the planner's width (unknown node count) and
    // every later round at the width the previous count warrants
    val ((labels, _), _) = Fixpoint.until("hash-min connected components",
        HashMinCap)((labels0, Option.empty[Long])) { case (labels, nRows) =>
      val prop = edges.join(labels, edges("a") === labels("node"))
        .select(edges("b").as("node"), col("root"),
          // typed from the live schema: node/root are longs for doc-id
          // graphs but binary-fingerprint STRINGS for q109
          lit(null).cast(labels.schema("root").dataType).as("old"))
      // carry each node's PREVIOUS root through the aggregate (max over
      // {old, null…} = old — labels has exactly one row per node), so
      // the convergence count below is a plain scan of the checkpointed
      // frame instead of a join job per round (r17 optimization: the
      // loop is fixed-cost-bound locally — one fewer shuffle per round)
      val next0 = labels.select(col("node"), col("root"),
          col("root").as("old")).union(prop)
        .groupBy("node").agg(min("root").as("root"), max("old").as("old"))
      val next = nRows.fold(Fixpoint.materialize(next0))(
        Fixpoint.materialize(next0, _, rowBytes = 48L))
      val stats = next.agg(count(lit(1)).as("n"),
        sum(when(col("root") < col("old"), 1L).otherwise(0L)).as("chg"))
        .collect()(0)
      ((next.select("node", "root"), Some(stats.getLong(0))),
        stats.isNullAt(1) || stats.getLong(1) == 0L)
    }
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the same
    * `(node, root)` contract as [[connectedComponents]], but the round
    * count is logarithmic in component size instead of linear in
    * component DIAMETER. Hash-to-min stays q100's default (near-dup
    * clusters are dense and shallow, 2-4 rounds); this is the drop-in
    * for adversarial long-chain graphs, where hash-to-min needs
    * diameter rounds (a 100k-link chain = 100k rounds vs ~17 here).
    *
    * Each round is two groupBy-min + join passes over the edge set:
    *  - large-star: every node links its strictly-LARGER neighbors to
    *    the smallest node it can see (min of neighbors ∪ self) —
    *    tall trees flatten;
    *  - small-star: every node links its smaller-or-equal parents (and
    *    itself) to their minimum — stars canonicalize onto the min.
    * Fixpoint when the edge set stops changing; only the two scalar
    * difference-counts reach the driver, and the per-round eager
    * localCheckpoint truncates the growing lineage (same discipline as
    * hash-to-min). */
  private[ops] def connectedComponentsStar(pairs: DataFrame): DataFrame =
    starWithRounds(pairs)._1

  private[ops] def starWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val nodes = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node"))).distinct()
      .localCheckpoint(true)
    // canonical working set: DIRECTED a > b, no self-loops, distinct —
    // the symmetrized view each round is then duplicate-free by
    // construction (no per-round distinct shuffle on 2|E| rows)
    val edges0 = pairs
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    // a large-star round's directed set is bounded by the symmetrized
    // view of the initial edges: one edge-sized scan paid once
    val edgeRows = edges0.count() * 2
    val (edges, rounds) = Fixpoint.until("star connected components",
        StarCap)(edges0) { edges =>
      // large-star over the symmetrized view: m(u) = min(Γ(u) ∪ {u});
      // each undirected {u,v} (u<v) emits exactly one directed (v, m(u))
      val sym = edges
        .union(edges.select(col("b").as("a"), col("a").as("b")))
      val mLarge = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      val ls = sym.join(mLarge, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star on the directed (child > parent) edges: every child
      // links its parents ∪ itself to their minimum
      val mSmall = ls.groupBy("a").agg(min("b").as("m"))
      val joined = ls.join(mSmall, "a")
      val ss = Fixpoint.materialize(joined
        .select(col("a"), col("m").as("b"))         // child → min parent
        .union(joined.select(col("b").as("a"), col("m").as("b"))) // co-parents → min
        .filter(col("a") =!= col("b")).distinct(), edgeRows, rowBytes = 32L)
      // fixpoint = edge set unchanged. Both sides are DISTINCT sets, so
      // the symmetric difference is exactly the union rows with
      // multiplicity 1 — one aggregate, ONE job per round (r5; the
      // count+exceptAll formulation it replaces ran 2-3 jobs per round,
      // which at log-rounds scale doubles driver round-trips)
      (ss, ss.union(edges)
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
        .filter(col("c") === 1).isEmpty)
    }
    // final star forest: children point at their component min; roots
    // (and any node isolated by self-loop removal) label themselves
    val labels = nodes
      .join(edges.withColumnRenamed("a", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("b"), col("node")).as("root"))
    (labels, rounds)
  }

  /** q101: time-series gap filling — resample each user's event values
    * to a daily spine (that user's observed [min, max] day range) with
    * last-observation-carried-forward. The resampling step every
    * metric/feature store runs before joining series with different
    * cadences.
    *
    * Day arithmetic stays in integer µs (`tus div 86_400_000_000`) —
    * the precision both engines share (see Tables.T's schema-dispatched
    * event-time contract) — and the last-per-day pick is
    * totally ordered by (tus, event_id) desc. Per-user work is bounded
    * by calendar days, the spine explode is linear, and the fill
    * window partitions by user — no global window anywhere. */
  def q101GapFill(s: SparkSession, dir: String): DataFrame =
    gapFillCore(T.events(s, dir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("tus"), col("value"), col("event_id")))
      .orderBy("user_id", "day")

  /** The q101 core on any `(user_id, tus, value, event_id)` frame —
    * separated so CurationProps can cross-check the spine+fill
    * formulation against an independent per-user LOCF scan (the DuckDB
    * oracle runs the SAME shape). */
  private[ops] def gapFillCore(in: DataFrame): DataFrame = {
    val e = in.withColumn("day", expr("tus div 86400000000"))
    val wDay = Window.partitionBy("user_id", "day")
      .orderBy(col("tus").desc, col("event_id").desc)
    val lastPerDay = e
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value"))
    val spine = lastPerDay.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
    val wFill = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(lastPerDay, Seq("user_id", "day"), "left")
      .withColumn("value_filled", last("value", ignoreNulls = true).over(wFill))
      .select(col("user_id"), col("day"), col("value_filled"))
  }

  /** q102: fuzzy entity matching — candidate duplicate part names by
    * edit distance ≤ 2 within a blocking key (the name's final word).
    * The entity-resolution step a data-integration pipeline (the
    * reference's whole domain) runs when merging catalogs that spell
    * the same thing differently.
    *
    * Matching runs over DISTINCT names (the name dictionary), not rows:
    * candidate work scales with vocabulary², independent of corpus row
    * count — the same dictionary trick as q72's minhash — and each
    * name carries its row count so callers can weigh merges.
    * `levenshtein` computes the same classic edit distance in both
    * engines. Blocking is two-dimensional (r5): the final word PLUS a
    * length band — see [[fuzzyCandidates]] — so a hot noun at catalog
    * scale no longer means a quadratic block. */
  def q102FuzzyMatch(s: SparkSession, dir: String): DataFrame =
    fuzzyMatchCore(T(s, dir, "part").select("p_name"))

  /** The q102 body over any `(p_name)` frame. */
  private[ops] def fuzzyMatchCore(parts: DataFrame): DataFrame =
    fuzzyCandidates(fuzzyNameDict(parts))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 2)
      .select(col("name_a"), col("name_b"), col("dist"), col("cnt_a"), col("cnt_b"))
      .orderBy("name_a", "name_b")

  /** Distinct-name dictionary with both blocking keys: the final word
    * (`noun`) and the width-3 length band (`lband`). */
  private[ops] def fuzzyNameDict(parts: DataFrame): DataFrame =
    parts.groupBy("p_name").agg(count(lit(1)).as("n_parts"))
      .withColumn("noun", element_at(split(col("p_name"), " "), -1))
      .withColumn("lband", expr("length(p_name) div 3"))

  /** Candidate pairs under (noun, length-band) blocking — EXACT for the
    * edit-distance ≤ 2 threshold: each edit changes length by at most 1,
    * so |len(a) − len(b)| ≤ 2, and with bands of width 3 the two lengths
    * land in the same or adjacent bands. The a-side therefore probes
    * bands {lband−1, lband, lband+1} (a 3× fan-out of the DICTIONARY,
    * not the corpus) and the join stays an equi-join on (noun, lband);
    * each unordered pair matches exactly once because the b-side keeps
    * its single true band. What the band buys at scale: a hot noun
    * ("box") shared by v names no longer builds one v² block — FuzzyBlockSpec
    * pins the shrink on a hot-noun fixture and the unchanged output. */
  private[ops] def fuzzyCandidates(names: DataFrame): DataFrame = {
    val a = names.select(col("p_name").as("name_a"), col("noun"),
        col("n_parts").as("cnt_a"),
        explode(array(col("lband") - 1, col("lband"), col("lband") + 1))
          .as("lband"))
    val b = names.select(col("p_name").as("name_b"), col("noun"),
      col("n_parts").as("cnt_b"), col("lband"))
    a.join(b, Seq("noun", "lband"))
      .filter(col("name_a") < col("name_b"))
  }

  /** q103: funnel analysis — users progressing view → click → purchase
    * in strict event-time order, with the click and purchase inside 7
    * days of the first view. Three keyed min-aggregates chained by
    * joins (each stage's threshold time feeds the next stage's filter),
    * then one global 3-row stage summary. All shuffles key on user_id;
    * event-time compares at µs (the shared precision). */
  /** Email / phone / IPv4 regexes shared by q111's Spark and DuckDB
    * sides — conservative constructs (`\b`, `\d`, bounded classes) that
    * Java regex and RE2 interpret identically. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** q111: PII scrubbing — the redaction stage every public-corpus
    * training pipeline runs before anything else sees the text: emails,
    * phone numbers, and IPv4 addresses are counted and replaced by
    * typed placeholder tokens, and the redacted text is fingerprinted
    * (md5) so the oracle pins the EXACT byte-level scrub, not just the
    * counts. The synthetic corpus carries no PII, so the query injects
    * deterministic PII first — the same `doc_id`-keyed expressions in
    * both engines — making the scrub equality meaningful at every SF.
    * Pure codegen'd projection (regexp_count / regexp_replace), no
    * shuffle but the presentation sort: scales as a map-only pass. */
  def q111PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val injected = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit(" call 555-867-5309")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0."),
              (col("doc_id") % 256).cast("string"), lit(".1")))
            .otherwise(lit(""))).as("text"))
    // Column-API regexp_count, NOT expr(): a SQL string literal would
    // eat the pattern's backslashes (\b, \d) as SQL escapes
    injected.select(col("doc_id"), col("lang"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(IpRe)).cast("long").as("n_ips"),
      md5(regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]"),
        IpRe, "[IP]")).as("scrub_md5"))
      .orderBy("doc_id")
  }

  def q103Funnel(s: SparkSession, dir: String): DataFrame =
    funnelCore(T.events(s, dir)
      .select(col("user_id"), col("tus"), col("event_type")))

  /** The q103 core on any `(user_id, tus, event_type)` frame —
    * separated so CurationProps can cross-check the chained min-agg
    * formulation against an independent per-user scan (the DuckDB
    * oracle runs the SAME chained shape). */
  private[ops] def funnelCore(ev: DataFrame): DataFrame = {
    val week = 604800000000L // 7 days in µs
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tus").as("t1"))
    val c = ev.join(v, "user_id")
      .filter(col("event_type") === "click" && col("tus") > col("t1"))
      .groupBy("user_id").agg(min("tus").as("t2"))
    val p = ev.join(c, "user_id")
      .filter(col("event_type") === "purchase" && col("tus") > col("t2"))
      .groupBy("user_id").agg(min("tus").as("t3"))
    val f = v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(
        (col("t2").isNotNull && col("t2") - col("t1") <= week).as("s2"),
        (col("t3").isNotNull && col("t2") - col("t1") <= week &&
          col("t3") - col("t1") <= week).as("s3"))
    // coalesce: on an empty funnel (no views at all) Spark's sum is
    // NULL while the oracle's filtered count(*) is 0 — same answer
    // only with the explicit zero
    f.agg(count(lit(1)).as("n1"),
        coalesce(sum(when(col("s2"), 1L).otherwise(0L)), lit(0L)).as("n2"),
        coalesce(sum(when(col("s3"), 1L).otherwise(0L)), lit(0L)).as("n3"))
      .select(explode(array(
        struct(lit("stage1_view").as("stage"), col("n1").as("n_users")),
        struct(lit("stage2_click").as("stage"), col("n2").as("n_users")),
        struct(lit("stage3_purchase").as("stage"), col("n3").as("n_users"))))
        .as("r"))
      .select(col("r.stage").as("stage"), col("r.n_users").as("n_users"))
      .orderBy("stage")
  }

  /** q119: cohort retention — the companion analytics op to q103's
    * funnel: users cohort by the DAY of their first `purchase` (their
    * activation event), and each (cohort_day, day_offset) cell counts
    * distinct users with ANY event that many days after activation.
    * Pre-activation activity is excluded by contract (retention measures
    * behavior AFTER entry). Days are µs-quantized epoch-days
    * (`tus div 86400000000`) — the same integer event-time
    * arithmetic every declared query uses (Tables.scala contract), so
    * both engines bucket identically. North-star op (prov `ns`).
    *
    * Shape: per-user min over the purchase subset (partial-agg'd), one
    * equi-join back on user_id, a distinct on (user, cohort, offset) —
    * bounded by users × days, far below raw events — then the matrix
    * aggregate. All shuffles are on user_id until the final tiny
    * cohort×offset rollup; no windows, no skew surface (per-user event
    * counts are ingest-bounded). */
  def q119RetentionCohort(s: SparkSession, dir: String): DataFrame = {
    val ev = T.events(s, dir)
      .select(col("user_id"),
        expr("tus div 86400000000").as("day"), col("event_type"))
    val cohorts = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.join(cohorts, "user_id")
      .filter(col("day") >= col("cohort_day"))
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** q104: incremental near-dup screening — the ingest-time shape of
    * q72: a NEW batch (`doc_id % 10 = 0`, the arriving delta) is LSH
    * band-joined against the EXISTING corpus only, never against
    * itself; flagged docs (any corpus band collision) are what an
    * ingest pipeline rejects or routes to verification.
    *
    * This asymmetry is the production contract for growing corpora:
    * per-ingest cost is |batch| × band-collision rate, not the
    * corpus² of re-running full dedup, and the corpus-side band table
    * is exactly the persistent LSH index a deployment maintains
    * (append new bands after admission). Same hash family as
    * q72/q100 — [[TrainingData.minhashBands]] on the Spark side, the
    * shared band CTE in the oracle. */
  def q104IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    // the two filter branches are non-identical subtrees (the % 10
    // predicates push below the signature aggregate), so the pipeline
    // executes twice — measured CHEAPER here than materializing the
    // band rows once (localCheckpoint A/B at sf0.1: 1.3 s vs 2.6 s;
    // the recompute overlaps across cores, the checkpoint serializes).
    // In a real deployment neither happens: the corpus band table is a
    // PERSISTED LSH index (e.g. BucketedTables on (band, k1, k2)) that
    // ingest appends to — only the new batch's bands are computed per
    // run, which is the whole point of the incremental shape.
    val bands = TrainingData.minhashBands(s, dir)
    val newB = bands.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("band"), col("k1"), col("k2"))
    val corpus = bands.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("o_doc"), col("band"), col("k1"), col("k2"))
    newB.join(corpus, Seq("band", "k1", "k2"))
      .groupBy("doc_id")
      .agg(countDistinct(col("o_doc")).as("n_dups"),
        min(col("o_doc")).as("first_dup"))
      .orderBy("doc_id")
  }

  /** q107: q104's incremental near-dup screening driven by the PERSISTED
    * LSH band index — the deployment shape q104's scaladoc promises. The
    * corpus band table is materialized ONCE per (session, dataset) as a
    * [[graft.sink.BucketedTables]] catalog table bucketed on the full
    * band key (band, k1, k2); every subsequent ingest batch computes only
    * its OWN bands and probes the index, and because the index's bucket
    * hash already satisfies the join's required distribution, the
    * corpus side reads with NO exchange — only the (small) batch side
    * shuffles into the bucket layout (IndexedDedupSpec pins that plan
    * shape). Same output contract and DuckDB oracle as q104.
    *
    * At 100 TB this is the difference between re-scanning the corpus
    * text per ingest (q104's self-contained shape, two full scans) and
    * touching only `|batch| × collision-rate` index rows: after
    * screening, [[admitToBandIndex]] appends the admitted batch's bands
    * to the index, so successive ingests probe a growing index and never
    * rescan the corpus (IndexAdmissionSpec drives two consecutive
    * batches through screen→admit→screen). */
  def q107IndexedDedup(s: SparkSession, dir: String): DataFrame =
    screenAgainstIndex(s, ensureBandIndex(s, dir),
      TrainingData.minhashBands(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("band"), col("k1"), col("k2")))

  /** The probe half of the incremental-ingest contract: joins a batch's
    * band rows (doc_id, band, k1, k2) against the persisted index and
    * returns per-doc collision counts. The index's bucket hash satisfies
    * the join's required distribution, so only the (small) batch side
    * shuffles (IndexedDedupSpec pins the exchange-free corpus scan). */
  private[graft] def screenAgainstIndex(s: SparkSession, idxTable: String,
                                      batchBands: DataFrame): DataFrame =
    aggScreenReport(indexCollisionPairs(s, idxTable, batchBands))

  /** Raw (doc_id, o_doc) collision pairs of a batch's band rows against
    * the persisted index — the pre-aggregation half of
    * [[screenAgainstIndex]], separated so the streaming ingest can
    * union in batch-LOCAL collision pairs before aggregating one
    * report. `excludeDocs`, when given, anti-joins the INDEX side on
    * its doc ids (a small broadcast against the bucketed scan — a
    * narrow join, so the index side still reads with no exchange):
    * IngestDedup passes the whole batch's ids, which makes a crash-
    * REPLAYED batch screen identically to its first run even when the
    * batch contains intra-batch near-duplicates whose bands a previous
    * attempt admitted (the per-row `o_doc =!= doc_id` filter alone
    * only covers a doc's collision with ITSELF, not with an admitted
    * batchmate). */
  private[graft] def indexCollisionPairs(s: SparkSession, idxTable: String,
                                         batchBands: DataFrame,
                                         excludeDocs: Option[DataFrame] = None)
      : DataFrame = {
    val idx = excludeDocs.fold(s.table(idxTable)) { ids =>
      // no .distinct() on the build side: anti-join semantics are
      // duplicate-insensitive (the broadcast hashed relation is a key
      // lookup), and the distinct would cost a whole shuffle per
      // micro-batch now that band rows arrive as a pure projection
      // (r9's MinhashSig) instead of pre-partitioned aggregate output.
      // Duplicates only widen the bounded batch broadcast ~4× (one id
      // per band row).
      s.table(idxTable).join(
        broadcast(ids.select(col("doc_id").as("o_doc"))),
        Seq("o_doc"), "left_anti")
    }
    batchBands.join(idx, Seq("band", "k1", "k2"))
      // self-collisions excluded: for q104/q107 the batch (%10 == 0) and
      // corpus are disjoint so this never fires; for the streaming
      // ingest it makes a REPLAYED batch (whose own bands a crashed
      // attempt already admitted) screen identically to its first run
      .filter(col("o_doc") =!= col("doc_id"))
      .select(col("doc_id"), col("o_doc"))
  }

  /** Folds collision pairs into the screening report contract
    * `(doc_id, n_dups, first_dup)` shared by q104/q107/IngestDedup. */
  private[graft] def aggScreenReport(pairs: DataFrame): DataFrame =
    pairs
      .groupBy("doc_id")
      .agg(countDistinct(col("o_doc")).as("n_dups"),
        min(col("o_doc")).as("first_dup"))
      .orderBy("doc_id")

  /** The admission half: appends an ADMITTED batch's band rows
    * (doc_id, band, k1, k2 — whatever subset of the screened batch the
    * caller's policy admits) to the persisted index, preserving the
    * bucket layout, so the NEXT ingest's probe sees them with still no
    * corpus-side exchange. Per-ingest index growth is |admitted|×bands
    * rows — the corpus text is never re-read. Cache contract: the
    * append invalidates THIS session's cached relation; any OTHER
    * session (including the parent of a foreachBatch clone) that
    * already resolved the table must `refreshTable` before its next
    * read, or it will list the pre-append files. */
  def admitToBandIndex(s: SparkSession, idxTable: String,
                       admittedBands: DataFrame): Unit =
    graft.sink.BucketedTables.append(
      admittedBands.select(col("doc_id").as("o_doc"), col("band"),
        col("k1"), col("k2")),
      idxTable, BandIndexBuckets, Seq("band", "k1", "k2"))

  private val BandIndexBuckets = 8

  /** Compacts the persisted band index back to one file per bucket —
    * every admitted batch appends a file per bucket, so a long-running
    * ingest otherwise degrades its own probe (file-count growth, and
    * scans lose the pre-sorted property). Delegates to the shared
    * [[graft.sink.BucketedTables.compact]] swap protocol; IngestDedup's
    * `compactEvery` hook calls this between batches, when no admission
    * can race the swap. */
  def compactBandIndex(s: SparkSession, idxTable: String): Unit =
    graft.sink.BucketedTables.compact(s, idxTable, BandIndexBuckets,
      Seq("band", "k1", "k2"))

  /** Registers a fresh EMPTY band index under `name` — the start-of-
    * stream state for an ingest whose corpus is built entirely by
    * [[admitToBandIndex]] admissions (the graded q316 replay). The seed
    * frame is [[TrainingData.minhashBandsOfDocs]] over a zero-row docs
    * frame, so the schema (and any future change to it) stays derived
    * from the one banding implementation — plan-only, no job runs. */
  private[graft] def freshBandIndex(s: SparkSession, name: String): String =
    graft.sink.BucketedTables.ensure(s, name,
      TrainingData.minhashBandsOfDocs(
        s.range(0).select(col("id").as("doc_id"), lit("").as("text")))
        .select(col("doc_id").as("o_doc"), col("band"), col("k1"),
          col("k2")),
      BandIndexBuckets, Seq("band", "k1", "k2"))

  /** Drops a band index table AND its warehouse directory — the
    * graded-replay cleanup (a q316 run's index is per-invocation
    * scratch; leaving the files would accumulate one table per JVM in
    * the warehouse). */
  private[graft] def dropBandIndex(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table)
    wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
  }

  /** Ensures (once per session per dataset) the persistent corpus band
    * index q107 probes: the existing-corpus half of
    * [[TrainingData.minhashBands]], bucketed+sorted on (band, k1, k2).
    * The table name carries a digest of the dataset dir so different
    * scale factors never alias to a stale index. Crash/race safety
    * (complete-adopt / incomplete-clear / staged-build + atomic
    * rename, EXTERNAL registration) is the shared
    * [[graft.sink.BucketedTables.ensure]] protocol —
    * BandIndexGuardSpec pins its three entry paths through this
    * call. */
  private[graft] def ensureBandIndex(s: SparkSession, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    graft.sink.BucketedTables.ensure(s, s"graft_band_index_$digest",
      TrainingData.minhashBands(s, dir)
        .filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("o_doc"), col("band"), col("k1"),
          col("k2")),
      BandIndexBuckets, Seq("band", "k1", "k2"))
  }

  /** q105: the composed curation pipeline — the flagship end-to-end
    * shape a corpus actually flows through, built from the library's own
    * stages: character-length quality gate → exact near-zero-cost dedup
    * (md5 digest computed BEFORE the shuffle, so the exchange carries
    * 32-hex digests + 3 small columns, never text — q70's hash-first
    * rule) → NEAR-dup cluster drop (r5: the q72 MinHash candidate pairs
    * → q100 connected components; every non-root cluster member — i.e.
    * everything but the smallest doc_id per cluster — is anti-joined
    * away, the "keep one representative per near-dup cluster" step) →
    * q89's deterministic md5-bucket 80/10/10 split → per-(lang, split)
    * doc and token counts. Dedup keeps the smallest doc_id per digest /
    * per cluster (stable across runs, machines, and incremental appends
    * — same argument as q89); a cluster root always survives the exact
    * stage because the root IS the cluster's minimum doc_id. Clusters
    * are computed on the FULL corpus (near-dup identity is a content
    * property, not a post-gate one); the oracle mirrors that choice. */
  def q105CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val nonRoots = connectedComponents(
        TrainingData.minhashPairs(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .filter(col("node") =!= col("root"))
      .select(col("node").as("doc_id"))
    val wDigest = Window.partitionBy("digest").orderBy("doc_id")
    T(s, dir, "documents")
      .filter(col("n_chars").between(20, 5000))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("text")).as("digest"))
      .withColumn("rn", row_number().over(wDigest))
      .filter(col("rn") === 1)
      .join(nonRoots, Seq("doc_id"), "left_anti")
      .withColumn("bucket", TrainingData.md5Bucket100)
      .withColumn("split", TrainingData.md5Split(col("bucket")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("lang", "split")
  }

  /** q229: the Pareto frontier of the corpus under two SELECTION
    * objectives — lexical diversity (distinct whitespace words,
    * maximize) vs token cost ([[graft.functions.Bpe.count]],
    * minimize): the documents no other document beats on both axes at
    * once, i.e. the efficient frontier a budgeted data-selection pass
    * picks from ("most diversity per token"). q172/q181 SCORE and cut
    * on one axis; the skyline is the multi-objective primitive —
    * scalarize any weighting later and its optimum is ON this
    * frontier.
    *
    * Scale shape (the 2-D skyline never does the O(n²) dominance
    * join): (1) collapse the corpus to one row per DISTINCT token
    * cost with that cost's best diversity and smallest achieving
    * doc_id (struct-argmax inside a partial+final aggregate — bounded
    * by the token-count DOMAIN, not the corpus); (2) one
    * [[ScalableRank.withGlobalCummaxExclusive]] sweep over cost
    * ascending (two-pass distributed prefix-max, never a global
    * window); (3) keep rows whose diversity exceeds every
    * cheaper-cost diversity — by construction exactly the
    * non-dominated set. The DuckDB oracle states dominance
    * declaratively (NOT EXISTS over the collapsed per-cost table), so
    * the hash match proves the sweep IS the skyline. Output ordered
    * by cost; diversity is strictly increasing along it (ParetoSpec
    * pins the staircase and brute-forces dominance per doc). */
  def q229ParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    val m = T(s, dir, "documents").select(col("doc_id"),
      size(expr("array_distinct(filter(split(text, ' '), x -> x != ''))"))
        .cast("long").as("n_lex"),
      graft.functions.Bpe.count(col("text")).as("btok"))
    val g = m.groupBy("btok")
      .agg(max(struct(col("n_lex"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("btok"), col("b.n_lex").as("n_lex"),
        (-col("b.nid")).as("doc_id"))
    ScalableRank.withGlobalCummaxExclusive(
        g, col("n_lex"), "pmax", col("btok").asc)
      .filter(col("n_lex") > col("pmax"))
      .select(col("doc_id"), col("n_lex"), col("btok"))
      .orderBy("btok")
  }

  /** Frontier-size guard for [[q243Skyline3d]]'s merge step: the union
    * of local frontiers must be driver-mergeable. Real 3-D skylines of
    * correlated objectives are tiny (anti-correlated worst cases grow —
    * the guard fails LOUDLY instead of silently funneling a corpus
    * into one task). */
  private[ops] val SkyCap = 1 << 20

  /** q243: the 3-D Pareto frontier — q229's skyline at the
    * dimensionality where the prefix-max sweep NO LONGER APPLIES
    * (RUNBOOK documents the 2-D sweep's boundary; this op ships the
    * standard distributed-skyline shape that replaces it): documents
    * non-dominated under (lexical diversity ↑, BPE token cost ↓,
    * character storage cost ↓) — the three-way efficient frontier a
    * budget-constrained selection pass picks from when storage and
    * context-window cost are priced separately.
    *
    * Scale shape — LOCAL FRONTIERS, the classic two-phase distributed
    * skyline: (1) each partition reduces to its locally non-dominated
    * set via an in-memory dominance buffer (`mapPartitions` — a 3-way
    * dominance filter has no Catalyst operator; this is exactly the
    * documented fallback, and dominance transitivity makes local
    * pruning SOUND: any globally-dominated tuple is dominated by some
    * tuple that survives its own partition's frontier); (2) the union
    * of local frontiers — tiny for real corpora, [[SkyCap]]-guarded
    * loudly — merges in one bounded task through the same filter.
    * Duplicate objective tuples dominate nothing and both survive, so
    * the frontier SET is partition-invariant (Skyline3dSpec pins
    * that). The DuckDB oracle states 3-D dominance declaratively
    * (NOT EXISTS), so the hash match proves the two-phase merge IS
    * the skyline. */
  def q243Skyline3d(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // canonical orientation: maximize all axes (cost axes negated)
    val m = T(s, dir, "documents").select(col("doc_id"),
        size(expr("array_distinct(filter(split(text, ' '), x -> x != ''))"))
          .cast("long").as("n_lex"),
        (-graft.functions.Bpe.count(col("text"))).as("nb"),
        (-col("n_chars")).as("nc"))
      .as[(Long, Long, Long, Long)]
    def dominates(p: (Long, Long, Long, Long),
                  q: (Long, Long, Long, Long)): Boolean =
      p._2 >= q._2 && p._3 >= q._3 && p._4 >= q._4 &&
        (p._2 > q._2 || p._3 > q._3 || p._4 > q._4)
    def frontier(it: Iterator[(Long, Long, Long, Long)])
        : Iterator[(Long, Long, Long, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      it.foreach { t =>
        if (!buf.exists(b => dominates(b, t))) {
          val keep = buf.filterNot(b => dominates(t, b))
          buf.clear(); buf ++= keep += t
        }
      }
      buf.iterator
    }
    val local = m.mapPartitions(frontier _).localCheckpoint(true)
    val n = local.count() // bounded-merge guard, loud on pathology
    require(n <= SkyCap,
      s"3-D skyline local-frontier union is $n rows (> $SkyCap): " +
        "objectives too anti-correlated for the bounded merge — " +
        "partition the corpus and merge frontiers hierarchically")
    local.repartition(1).mapPartitions(frontier _)
      .select(col("_1").as("doc_id"), col("_2").as("n_lex"),
        (-col("_3")).as("btok"), (-col("_4")).as("n_chars"))
      .orderBy("doc_id")
  }

  /** The blocklist and its occurrence threshold — corpus policy (the
    * C4-style badword list): entries absent from a corpus cost nothing,
    * and the threshold separates incidental mentions from saturated
    * documents. */
  private[ops] val BlockTerms = Seq("slow", "stale", "deadlock")
  private[ops] val BlockMax = 3L

  /** q245: blocklist filtering — the wordlist gate every public-corpus
    * curation pipeline runs (C4 dropped pages on a badword list; safety
    * and compliance lists work the same way), complementing the
    * STATISTICAL gates (q191 quality rules, q83 scoring) with an exact
    * LEXICAL one: count each document's blocked-token occurrences and
    * flag it when they reach [[BlockMax]] (threshold, not presence —
    * one incidental mention survives, a saturated page does not).
    * Reported per source: documents, flagged documents, total blocked
    * tokens, and surviving characters — the audit row a release gate
    * consumes (q224's composition pattern).
    *
    * Scale shape: ONE corpus scan — the count is a codegen'd
    * `size(filter(tokens, x -> x IN (<list literal>)))` projection (no
    * explode, no join, no UDF: the blocklist ships inside the
    * expression the way q240 ships its boundaries), then a
    * partial+final aggregate on source. A 10⁴-entry production list
    * outgrows a literal — swap the membership test for a broadcast
    * semi-join on exploded tokens; the one-scan shape survives. */
  def q245BlocklistFilter(s: SparkSession, dir: String): DataFrame = {
    val listSql = BlockTerms.map(t => s"'$t'").mkString(", ")
    T(s, dir, "documents")
      .select(col("source"), col("n_chars"),
        expr(s"size(filter(split(text, ' '), x -> x in ($listSql)))")
          .cast("long").as("bc"))
      .withColumn("flagged", col("bc") >= BlockMax)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum("bc").as("blocked_tokens"),
        sum(when(!col("flagged"), col("n_chars")).otherwise(0L))
          .as("kept_chars"))
      .orderBy("source")
  }

  // ---- q284: embedding centroid drift ---------------------------------

  /** q284: per-label embedding drift between two corpus versions — the
    * model-ops check run after every embedder upgrade or corpus
    * refresh: did a class's centroid MOVE? Versions are the vec_id
    * parity halves (production joins two snapshot tables); the drift
    * statistic is the L1 distance between the two centroids,
    * CROSS-MULTIPLIED to stay integer-exact: per component,
    * |s₁ᵢ·n₂ − s₂ᵢ·n₁| over component sums on the 2¹⁶ fixed-point grid
    * (the oQ quantization — one singly-rounded double→grid cast per
    * component, then every reduction is an associative integer sum, so
    * no accumulation order anywhere can move a bit; the q160/FixDot
    * discipline applied to centroid arithmetic). Division by n₁·n₂
    * would reintroduce rounding, so the report carries the
    * cross-multiplied statistic plus both counts — consumers compare
    * drifts at equal n, or divide at read time.
    *
    * Bounds: |component| ≤ ~1 → s ≤ n·2¹⁶; the cross product ≤
    * n₁·n₂·2¹⁷ — at 10⁶ vectors per label per side that is ~2⁵⁷,
    * in range; beyond that, pre-divide the sums by a power of two.
    *
    * Scale shape: one posexplode (×dim Generate), one
    * (label, half, pos) partial+final aggregate (dim×labels×2 rows),
    * the halves joined on the TINY aggregate frame, one label rollup.
    * The corpus is read once. */
  def q284EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val comp = T(s, dir, "embeddings")
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("q",
        expr("cast(floor(cast(v as double) * 65536.0 + 0.5) as bigint)"))
      .groupBy("label", "half", "pos")
      .agg(sum("q").as("s"))
    val counts = T(s, dir, "embeddings")
      .groupBy(col("label"), (col("vec_id") % 2).as("half"))
      .agg(count(lit(1)).as("n"))
    val h0 = comp.filter(col("half") === 0)
      .join(counts.filter(col("half") === 0).select("label", "n"), "label")
      .select(col("label"), col("pos"), col("s").as("s1"), col("n").as("n1"))
    val h1 = comp.filter(col("half") === 1)
      .join(counts.filter(col("half") === 1).select("label", "n"), "label")
      .select(col("label"), col("pos"), col("s").as("s2"), col("n").as("n2"))
    h0.join(h1, Seq("label", "pos"))
      .withColumn("term", expr("abs(s1 * n2 - s2 * n1)"))
      .groupBy("label")
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        sum("term").as("drift_l1x"))
      .orderBy("label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q284_embedding_drift" -> q284EmbeddingDrift _,
    "q247_bitemporal_pit" -> q247BitemporalPit _,
    "q245_blocklist_filter" -> q245BlocklistFilter _,
    "q243_skyline_3d" -> q243Skyline3d _,
    "q229_pareto_frontier" -> q229ParetoFrontier _,
    "q95_decontaminate" -> q95Decontaminate _,
    "q187_contam_attribution" -> q187ContamAttribution _,
    "q191_quality_audit" -> q191QualityAudit _,
    "q155_oov_novelty" -> q155OovNovelty _,
    "q168_compress_signal" -> q168CompressSignal _,
    "q172_importance_select" -> q172ImportanceSelect _,
    "q178_best_of_cluster" -> q178BestOfCluster _,
    "q181_selection_pipeline" -> q181SelectionPipeline _,
    "q183_cdc_compact" -> q183CdcCompact _,
    "q221_time_travel" -> q221TimeTravel _,
    "q236_golden_record" -> q236GoldenRecord _,
    "q96_repetition_signals" -> q96RepetitionSignals _,
    "q97_source_rebalance" -> q97SourceRebalance _,
    "q98_scd2_merge" -> q98Scd2Merge _,
    "q197_scd2_pit" -> q197Scd2Pit _,
    "q99_embed_quantize" -> q99EmbedQuantize _,
    "q100_dup_clusters" -> q100DupClusters _,
    "q101_gap_fill" -> q101GapFill _,
    "q102_fuzzy_match" -> q102FuzzyMatch _,
    "q103_funnel" -> q103Funnel _,
    "q119_retention_cohort" -> q119RetentionCohort _,
    "q111_pii_scrub" -> q111PiiScrub _,
    "q104_incremental_dedup" -> q104IncrementalDedup _,
    "q105_curation_pipeline" -> q105CurationPipeline _,
    "q106_dup_clusters_star" -> q106DupClustersStar _,
    "q107_indexed_dedup" -> q107IndexedDedup _,
    "q217_group_split" -> q217GroupSplit _,
    "q312_dup_mass_curve" -> q312DupMassCurve _,
    "q314_quality_yield_curve" -> q314QualityYieldCurve _,
  )

  /** One DuckDB ground truth for BOTH incremental-dedup shapes (q104
    * recompute-per-run, q107 persisted-index probe): the batch×corpus
    * band join over the shared q72 hash family. */
  private val incrementalDedupOracle: String =
    s"""WITH ${TrainingData.minhashBandsCtes}
      |SELECT n.doc_id, CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_dups,
      |       CAST(min(o.doc_id) AS BIGINT) AS first_dup
      |FROM b n JOIN b o ON n.band = o.band AND n.k1 = o.k1 AND n.k2 = o.k2
      |WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB recursive-CTE connected components over the q72 `pairs` CTE
    * — `rec(node, root)` — shared by the q100/q106 cluster oracle and
    * the q105 pipeline oracle so the ground-truth clustering can never
    * drift between them. */
  private[ops] val ccCtes: String =
    """edges AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
      |nodes AS (SELECT DISTINCT a AS node FROM edges),
      |rec AS (
      |  WITH RECURSIVE r(node, reach) AS (
      |    SELECT node, node FROM nodes
      |    UNION
      |    SELECT r.node, e.b FROM r JOIN edges e ON e.a = r.reach
      |  ) SELECT node, min(reach) AS root FROM r GROUP BY node)""".stripMargin

  /** One DuckDB ground truth (recursive-CTE reachability) for BOTH
    * connected-components implementations (q100 hash-to-min, q106
    * star contraction). */
  private val dupClustersOracle: String =
    s"""WITH ${TrainingData.minhashPairsCtes},
      |$ccCtes
      |SELECT root AS cluster_root, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(max(node) AS BIGINT) AS max_doc
      |FROM rec GROUP BY 1 ORDER BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    // q284: the same 2^16 grid quantization (singly-rounded), integer
    // component sums, and the cross-multiplied L1 — no division
    "q284_embedding_drift" ->
      """WITH c AS (SELECT label, vec_id % 2 AS half,
        |             unnest([{'pos': i,
        |                      'q': CAST(floor(CAST(embedding[i] AS DOUBLE)
        |                                      * 65536.0 + 0.5) AS BIGINT)}
        |                     for i in range(1, len(embedding) + 1)],
        |                    recursive := true)
        |           FROM embeddings),
        |sums AS (SELECT label, half, pos, CAST(sum(q) AS BIGINT) AS s
        |         FROM c GROUP BY 1, 2, 3),
        |n AS (SELECT label, vec_id % 2 AS half, count(*) AS n
        |      FROM embeddings GROUP BY 1, 2),
        |h0 AS (SELECT s.label, s.pos, s.s AS s1, n.n AS n1
        |       FROM sums s JOIN n ON s.label = n.label AND n.half = 0
        |       WHERE s.half = 0),
        |h1 AS (SELECT s.label, s.pos, s.s AS s2, n.n AS n2
        |       FROM sums s JOIN n ON s.label = n.label AND n.half = 1
        |       WHERE s.half = 1)
        |SELECT h0.label, CAST(max(n1) AS BIGINT) AS n1,
        |       CAST(max(n2) AS BIGINT) AS n2,
        |       CAST(sum(abs(s1 * n2 - s2 * n1)) AS BIGINT) AS drift_l1x
        |FROM h0 JOIN h1 ON h0.label = h1.label AND h0.pos = h1.pos
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q229: dominance stated DECLARATIVELY (NOT EXISTS over the
    // per-cost collapsed table) — a hash match proves the Spark
    // prefix-max sweep computes exactly the non-dominated set
    // q247: the same derived bitemporal log (UNION ALL branches — the
    // oracle rebuilds the fixture verbatim from orders), the same grid,
    // the same packed-key resolution via arg_max on never-null keys
    "q247_bitemporal_pit" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |              epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS d0,
        |              o_totalprice AS p FROM orders),
        |log AS (
        |  SELECT k, d0, 0 AS seq, 'I' AS op, d0 AS vf,
        |         CAST(round(p * 100) AS BIGINT) AS c2 FROM base
        |  UNION ALL
        |  SELECT k, d0, 1, 'U', d0 + 30 * 86400000000,
        |         CAST(round((p + 10) * 100) AS BIGINT) FROM base WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT k, d0, 2, 'D', d0 + 60 * 86400000000, NULL FROM base WHERE k % 7 = 0),
        |grid(t, voff) AS (VALUES (0,15),(0,45),(0,75),(1,15),(1,45),(1,75),(2,15),(2,45),(2,75)),
        |eff AS (SELECT g.t, g.voff, l.k,
        |        arg_max(l.op, l.vf * 4 + l.seq) AS op,
        |        arg_max(l.c2, l.vf * 4 + l.seq) AS c2
        |        FROM log l JOIN grid g
        |          ON l.seq <= g.t AND l.vf <= l.d0 + g.voff * 86400000000
        |        GROUP BY 1, 2, 3)
        |SELECT t, voff, CAST(count(*) AS BIGINT) AS n_live,
        |       CAST(sum(c2) AS BIGINT) AS sum_price_c2
        |FROM eff WHERE op <> 'D' GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q245: the same list membership count and threshold; all integer
    // aggregates
    "q245_blocklist_filter" -> {
      val listSql = BlockTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH c AS (SELECT source, n_chars,
        |           len(list_filter(string_split(text, ' '),
        |               x -> x IN ($listSql))) AS bc
        |           FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN bc >= $BlockMax THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |       CAST(sum(bc) AS BIGINT) AS blocked_tokens,
        |       CAST(sum(CASE WHEN bc < $BlockMax THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // q243: 3-D dominance stated declaratively over the full per-doc
    // tuple table — the hash match proves the two-phase local-frontier
    // merge computes exactly the skyline
    "q243_skyline_3d" ->
      s"""WITH RECURSIVE ${graft.functions.Bpe.countCteSql},
        |m AS (SELECT d.doc_id,
        |      CAST(len(list_distinct(list_filter(string_split(d.text, ' '), x -> x <> ''))) AS BIGINT) AS n_lex,
        |      CAST(c.btok AS BIGINT) AS btok, d.n_chars
        |      FROM documents d JOIN bpe_cnt c ON d.doc_id = c.doc_id)
        |SELECT doc_id, n_lex, btok, n_chars FROM m t
        |WHERE NOT EXISTS (SELECT 1 FROM m o
        |  WHERE o.n_lex >= t.n_lex AND o.btok <= t.btok AND o.n_chars <= t.n_chars
        |    AND (o.n_lex > t.n_lex OR o.btok < t.btok OR o.n_chars < t.n_chars))
        |ORDER BY doc_id""".stripMargin,
    "q229_pareto_frontier" ->
      s"""WITH RECURSIVE ${graft.functions.Bpe.countCteSql},
        |m AS (SELECT d.doc_id,
        |      CAST(len(list_distinct(list_filter(string_split(d.text, ' '), x -> x <> ''))) AS BIGINT) AS n_lex,
        |      c.btok
        |      FROM documents d JOIN bpe_cnt c ON d.doc_id = c.doc_id),
        |g AS (SELECT btok, max(n_lex) AS n_lex FROM m GROUP BY btok),
        |pick AS (SELECT m.btok, m.n_lex, CAST(min(m.doc_id) AS BIGINT) AS doc_id
        |         FROM m JOIN g ON m.btok = g.btok AND m.n_lex = g.n_lex
        |         GROUP BY 1, 2)
        |SELECT doc_id, n_lex, CAST(btok AS BIGINT) AS btok
        |FROM pick p
        |WHERE NOT EXISTS (SELECT 1 FROM g g2
        |                  WHERE g2.btok < p.btok AND g2.n_lex >= p.n_lex)
        |ORDER BY btok""".stripMargin,
    // q314: q171's exact qbp CTE chain (same quality formulation), the
    // same decile bucket, generate_series suffix explode, HUGEINT shares
    "q314_quality_yield_curve" ->
      """WITH w AS (SELECT doc_id,
        |           len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
        |           len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS uniq,
        |           len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS stop
        |      FROM documents),
        |k AS (SELECT doc_id, n,
        |             (2 * (10 * least(n, 100) * n + 750 * uniq + 750 * (n - stop)) * 10000
        |              + 2500 * n) // (2 * 2500 * n) AS qbp
        |      FROM w WHERE n > 0),
        |bu AS (SELECT qbp // 1000 AS bucket, count(*) AS bd,
        |         CAST(sum(n) AS HUGEINT) AS bt
        |       FROM k GROUP BY 1),
        |t AS (SELECT CAST(sum(bd) AS HUGEINT) AS td, sum(bt) AS tt FROM bu),
        |e AS (SELECT unnest(generate_series(0, bucket)) AS thr, bd, bt
        |      FROM bu),
        |y AS (SELECT thr, sum(bd) AS n_docs, sum(bt) AS n_tok
        |      FROM e GROUP BY 1)
        |SELECT CAST(thr AS BIGINT) AS thr, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tok AS BIGINT) AS n_tok,
        |       CAST((CAST(n_docs AS HUGEINT) * 10000) // t.td AS BIGINT) AS doc_bp,
        |       CAST((CAST(n_tok AS HUGEINT) * 10000) // t.tt AS BIGINT) AS tok_bp
        |FROM y, t ORDER BY thr""".stripMargin,
    // q312: the q100/q106/q217 recursive-CTE clustering ground truth
    // (shared CTEs), singletons seated by coalesce, the same bitlen
    // log2 bucket as q211, HUGEINT share against the 1-row corpus total
    "q312_dup_mass_curve" ->
      s"""WITH ${TrainingData.minhashPairsCtes},
        |$ccCtes,
        |docs AS (SELECT doc_id,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |         FROM documents),
        |wr AS (SELECT d.tok, COALESCE(rec.root, d.doc_id) AS cluster
        |       FROM docs d LEFT JOIN rec ON d.doc_id = rec.node),
        |cl AS (SELECT cluster, count(*) AS sz, sum(tok) AS ctok
        |       FROM wr GROUP BY 1),
        |bu AS (SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS b,
        |         count(*) AS n_clusters, sum(sz) AS n_docs,
        |         sum(ctok) AS tok_mass
        |       FROM cl GROUP BY 1),
        |t AS (SELECT CAST(sum(tok) AS HUGEINT) AS ttok FROM docs)
        |SELECT b, CAST(n_clusters AS BIGINT) AS n_clusters,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(tok_mass AS BIGINT) AS tok_mass,
        |       CAST((CAST(tok_mass AS HUGEINT) * 10000) // t.ttok AS BIGINT)
        |         AS mass_bp
        |FROM bu, t ORDER BY b""".stripMargin,
    // q217: the SAME recursive-CTE clustering ground truth as q100/q106
    // (shared CTEs — the clustering can never drift between the cluster
    // report and the split), then the md5 ticket on the representative
    "q217_group_split" ->
      s"""WITH ${TrainingData.minhashPairsCtes},
        |$ccCtes,
        |g AS (SELECT d.doc_id, COALESCE(rec.root, d.doc_id) AS group_rep
        |      FROM documents d LEFT JOIN rec ON d.doc_id = rec.node),
        |tick AS (SELECT doc_id, group_rep,
        |        ('0x' || substr(md5('split:' || group_rep::VARCHAR), 1, 12))::BIGINT % 10 AS bk
        |      FROM g)
        |SELECT doc_id, group_rep,
        |       CASE WHEN bk < 8 THEN 'train' WHEN bk = 8 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM tick ORDER BY doc_id""".stripMargin,
    "q95_decontaminate" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])) AS s
        |        FROM words WHERE len(w) >= 3),
        |ev AS (SELECT DISTINCT s FROM shl WHERE doc_id % 97 = 0)
        |SELECT t.doc_id, count(*) AS n_shared
        |FROM shl t JOIN ev ON t.s = ev.s
        |WHERE t.doc_id % 97 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q191_quality_audit" ->
      // verdicts are integer cross-multiplications in BOTH engines —
      // no division at any decision point
      s"""WITH w AS (SELECT doc_id, $WordsArrayDuck AS ws FROM documents),
        |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n,
        |      CAST(len(list_distinct(ws)) AS BIGINT) AS d,
        |      CAST(len(list_filter(ws, x -> x IN ('the', 'a'))) AS BIGINT) AS st,
        |      CAST(length(array_to_string(ws, '')) AS BIGINT) AS chars
        |      FROM w WHERE len(ws) > 0)
        |SELECT doc_id, rule, value, passed FROM (
        |  SELECT doc_id, 'min_words' AS rule, n AS value, n >= $MinWords AS passed FROM m
        |  UNION ALL SELECT doc_id, 'uniq_ratio_bp', (2*d*10000 + n) // (2*n), 2*d >= n FROM m
        |  UNION ALL SELECT doc_id, 'stop_ratio_bp', (2*st*10000 + n) // (2*n), 50*st >= n FROM m
        |  UNION ALL SELECT doc_id, 'word_len_bp', (2*chars*10000 + n) // (2*n), 10*chars <= 48*n FROM m)
        |ORDER BY doc_id, rule""".stripMargin,
    "q187_contam_attribution" ->
      // same shingle CTEs as q95; the argmax is a window rn=1 here vs
      // Spark's struct-max aggregate — identical deterministic result
      // (highest n_shared, then lowest eval_doc)
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])) AS s
        |        FROM words WHERE len(w) >= 3),
        |ev AS (SELECT DISTINCT doc_id AS eval_doc, s FROM shl WHERE doc_id % 97 = 0),
        |pairs AS (SELECT t.doc_id, ev.eval_doc, count(*) AS n_shared
        |          FROM shl t JOIN ev ON t.s = ev.s
        |          WHERE t.doc_id % 97 <> 0 GROUP BY 1, 2),
        |r AS (SELECT doc_id, eval_doc, n_shared,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY n_shared DESC, eval_doc) AS rn
        |      FROM pairs)
        |SELECT doc_id, eval_doc, n_shared FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // q221: each version's snapshot recomputed INDEPENDENTLY from the
    // base table and the %5/%7 rules — the oracle never mirrors the
    // version-explode mechanics (q183's semantic-oracle discipline)
    "q221_time_travel" ->
      """SELECT CAST(0 AS INT) AS as_of, o_orderkey,
        |       CAST(1 AS BIGINT) AS n_ops,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c2
        |FROM orders
        |UNION ALL
        |SELECT 1, o_orderkey,
        |       CAST(1 + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(round((o_totalprice
        |            + CASE WHEN o_orderkey % 5 = 0 THEN 10 ELSE 0 END) * 100) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 2, o_orderkey,
        |       CAST(1 + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(round((o_totalprice
        |            + CASE WHEN o_orderkey % 5 = 0 THEN 10 ELSE 0 END) * 100) AS BIGINT)
        |FROM orders WHERE o_orderkey % 7 <> 0
        |ORDER BY as_of, o_orderkey""".stripMargin,
    // q236: the same three-source fixture rebuilt as a plain UNION ALL
    // (the struct-array explode is Spark-side mechanics; the SOURCES
    // are the semantics), then the identical per-field max_by
    // survivorship — DuckDB's max_by skips NULL ordering keys exactly
    // like Spark's, and recencies are distinct per (key, source)
    "q236_golden_record" ->
      """WITH src AS (
        |  SELECT c_custkey AS k, 'crm' AS src, 3 AS rank,
        |         upper(c_name) AS name, CAST(c_nationkey AS BIGINT) AS nkey,
        |         CAST(NULL AS BIGINT) AS bal_c2, CAST(NULL AS VARCHAR) AS seg
        |  FROM customer WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'billing', 2, NULL, CAST(NULL AS BIGINT),
        |         CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'legacy', 1, c_name, CAST(c_nationkey AS BIGINT),
        |         CAST(round(c_acctbal * 100) AS BIGINT) - 7, c_mktsegment
        |  FROM customer)
        |SELECT k AS custkey, CAST(count(*) AS BIGINT) AS n_records,
        |  max_by(name, CASE WHEN name IS NOT NULL THEN rank END) AS name,
        |  max_by(src, CASE WHEN name IS NOT NULL THEN rank END) AS name_src,
        |  max_by(nkey, CASE WHEN nkey IS NOT NULL THEN rank END) AS nkey,
        |  max_by(src, CASE WHEN nkey IS NOT NULL THEN rank END) AS nkey_src,
        |  max_by(bal_c2, CASE WHEN bal_c2 IS NOT NULL THEN rank END) AS bal_c2,
        |  max_by(src, CASE WHEN bal_c2 IS NOT NULL THEN rank END) AS bal_c2_src,
        |  max_by(seg, CASE WHEN seg IS NOT NULL THEN rank END) AS seg,
        |  max_by(src, CASE WHEN seg IS NOT NULL THEN rank END) AS seg_src
        |FROM src GROUP BY 1 ORDER BY 1""".stripMargin,
    "q183_cdc_compact" ->
      // SEMANTIC oracle: the expected snapshot recomputed from the base
      // table, never mirroring the log/compaction mechanics
      """SELECT o_orderkey,
        |       CAST(1 + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
        |              + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_ops,
        |       CAST(round((o_totalprice
        |              + CASE WHEN o_orderkey % 5 = 0 THEN 10 ELSE 0 END) * 100) AS BIGINT) AS price_c2
        |FROM orders WHERE o_orderkey % 7 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    "q181_selection_pipeline" ->
      s"""WITH ${TrainingData.minhashPairsCtes},
        |$ccCtes,
        |wq AS (SELECT doc_id,
        |            len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
        |            len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS uniq,
        |            len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS stop
        |       FROM documents),
        |qv AS (SELECT doc_id,
        |              (2 * (10 * least(n, 100) * n + 750 * uniq + 750 * (n - stop)) * 10000
        |               + 2500 * n) // (2 * 2500 * n) AS qbp
        |       FROM wq WHERE n > 0),
        |mk AS (SELECT r.node,
        |              first_value(r.node) OVER (PARTITION BY r.root
        |                ORDER BY q.qbp DESC, r.node) AS keeper
        |       FROM rec r JOIN qv q ON q.doc_id = r.node),
        |ibg AS (SELECT w2.doc_id, unnest([w2.w[i] || ' ' || w2.w[i+1] for i in range(1, len(w2.w))]) AS bg
        |        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents) w2
        |        WHERE len(w2.w) >= 2),
        |ibk AS (SELECT doc_id, ('0x' || substr(md5(bg), 1, 2))::BIGINT AS bkt FROM ibg),
        |icnt AS (SELECT doc_id, bkt, count(*) AS c FROM ibk GROUP BY 1, 2),
        |ipb AS (SELECT bkt,
        |               CAST(sum(CASE WHEN doc_id % 10 = 0 THEN c ELSE 0 END) AS HUGEINT) AS t,
        |               CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN c ELSE 0 END) AS HUGEINT) AS r
        |        FROM icnt GROUP BY 1),
        |itot AS (SELECT sum(t) AS st, sum(r) AS sr FROM ipb),
        |iq AS (SELECT bkt, CASE WHEN t * sr + r * st = 0 THEN CAST(0 AS HUGEINT)
        |                        ELSE (CAST(1048576 AS HUGEINT) * t * sr) // (t * sr + r * st)
        |                   END AS q
        |       FROM ipb, itot),
        |isc AS (SELECT c.doc_id, CAST(sum(c.c * iq.q) AS BIGINT) AS score
        |        FROM icnt c JOIN iq ON c.bkt = iq.bkt WHERE c.doc_id % 10 <> 0 GROUP BY 1),
        |sel AS (SELECT doc_id, score FROM isc ORDER BY score DESC, doc_id LIMIT 100),
        |surv AS (SELECT s.doc_id, s.score
        |         FROM sel s LEFT JOIN mk ON mk.node = s.doc_id
        |         WHERE mk.node IS NULL OR mk.keeper = s.doc_id),
        |cur AS (SELECT v.doc_id, v.score, q2.qbp // 1000 AS bucket,
        |               ('0x' || substr(md5('cur:' || v.doc_id::VARCHAR), 1, 12))::BIGINT AS skey
        |        FROM surv v JOIN qv q2 ON q2.doc_id = v.doc_id)
        |SELECT row_number() OVER (ORDER BY bucket DESC, skey, doc_id) AS pos,
        |       doc_id, CAST(bucket AS BIGINT) AS bucket, score
        |FROM cur ORDER BY pos""".stripMargin,
    "q178_best_of_cluster" ->
      s"""WITH ${TrainingData.minhashPairsCtes},
        |$ccCtes,
        |wq AS (SELECT doc_id,
        |            len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
        |            len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS uniq,
        |            len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS stop
        |       FROM documents),
        |qv AS (SELECT doc_id,
        |              (2 * (10 * least(n, 100) * n + 750 * uniq + 750 * (n - stop)) * 10000
        |               + 2500 * n) // (2 * 2500 * n) AS qbp
        |       FROM wq WHERE n > 0),
        |m AS (SELECT r.root, r.node, q.qbp,
        |             row_number() OVER (PARTITION BY r.root
        |               ORDER BY q.qbp DESC, r.node) AS rn
        |      FROM rec r JOIN qv q ON q.doc_id = r.node)
        |SELECT root AS cluster_root,
        |       max(CASE WHEN rn = 1 THEN node END) AS keeper,
        |       CAST(max(CASE WHEN rn = 1 THEN qbp END) AS BIGINT) AS keeper_qbp,
        |       count(*) AS n_docs,
        |       max(CASE WHEN rn = 1 THEN node END) <> min(node) AS differs
        |FROM m GROUP BY root ORDER BY cluster_root""".stripMargin,
    "q172_importance_select" ->
      """WITH words AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |bg0 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg FROM words WHERE len(w) >= 2),
        |bk AS (SELECT doc_id, ('0x' || substr(md5(bg), 1, 2))::BIGINT AS b FROM bg0),
        |cnt AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
        |pb AS (SELECT b,
        |              CAST(sum(CASE WHEN doc_id % 10 = 0 THEN c ELSE 0 END) AS HUGEINT) AS t,
        |              CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN c ELSE 0 END) AS HUGEINT) AS r
        |       FROM cnt GROUP BY 1),
        |tot AS (SELECT sum(t) AS st, sum(r) AS sr FROM pb),
        |q AS (SELECT b, CASE WHEN t * sr + r * st = 0 THEN CAST(0 AS HUGEINT)
        |                     ELSE (CAST(1048576 AS HUGEINT) * t * sr) // (t * sr + r * st)
        |                END AS q
        |      FROM pb, tot),
        |sc AS (SELECT c.doc_id, CAST(sum(c.c * q.q) AS BIGINT) AS score
        |       FROM cnt c JOIN q ON c.b = q.b WHERE c.doc_id % 10 <> 0 GROUP BY 1)
        |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,
    "q155_oov_novelty" ->
      """WITH words AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |bg0 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg FROM words WHERE len(w) >= 2),
        |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg0 GROUP BY 1, 2),
        |ref AS (SELECT DISTINCT bg FROM cnt WHERE doc_id % 10 = 0),
        |sc AS (SELECT t.doc_id,
        |         CAST(sum(t.c) AS BIGINT) AS n_bigrams,
        |         CAST(sum(CASE WHEN r.bg IS NULL THEN t.c ELSE 0 END) AS BIGINT) AS n_oov
        |       FROM cnt t LEFT JOIN ref r ON t.bg = r.bg
        |       WHERE t.doc_id % 10 <> 0 GROUP BY 1),
        |sr AS (SELECT doc_id, n_bigrams, n_oov,
        |         CAST((2 * n_oov * 10000 + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 10000.0 AS oov_ratio
        |       FROM sc)
        |SELECT doc_id, n_bigrams, n_oov, oov_ratio, oov_ratio > 0.5 AS novel
        |FROM sr ORDER BY doc_id""".stripMargin,
    "q96_repetition_signals" ->
      """WITH words AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS word FROM words WHERE len(w) > 0),
        |wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
        |top AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, CAST(max(c) AS BIGINT) AS top_c FROM wc GROUP BY 1),
        |bg0 AS (SELECT doc_id, [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bgs FROM words WHERE len(w) >= 2),
        |bg AS (SELECT doc_id, CAST(len(bgs) AS BIGINT) AS n_bg, CAST(len(list_distinct(bgs)) AS BIGINT) AS n_bg_d FROM bg0),
        |r AS (SELECT t.doc_id, t.n_words,
        |        CAST((2 * t.top_c * 10000 + t.n_words) // (2 * t.n_words) AS DOUBLE) / 10000.0 AS top_word_ratio,
        |        CAST((2 * (b.n_bg - b.n_bg_d) * 10000 + b.n_bg) // (2 * b.n_bg) AS DOUBLE) / 10000.0 AS dup_bigram_ratio
        |      FROM top t JOIN bg b ON t.doc_id = b.doc_id)
        |SELECT doc_id, n_words, top_word_ratio, dup_bigram_ratio,
        |       (top_word_ratio > 0.2 OR dup_bigram_ratio > 0.2) AS repetitious
        |FROM r ORDER BY doc_id""".stripMargin,
    "q97_source_rebalance" ->
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_before FROM documents GROUP BY 1),
        |g AS (SELECT CAST(sum(n_before) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS ns FROM c),
        |kept AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_after
        |         FROM documents d JOIN c ON d.source = c.source, g
        |         WHERE ${TrainingData.md5Hash16Sql("d.doc_id")} * c.n_before < (g.total // (2 * g.ns)) * 65536
        |         GROUP BY 1)
        |SELECT c.source, c.n_before, CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_after
        |FROM c LEFT JOIN kept k ON c.source = k.source
        |ORDER BY c.source""".stripMargin,
    "q98_scd2_merge" ->
      """WITH h AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |                  lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |           FROM orders),
        |chg AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
        |        FROM h WHERE prev IS NULL OR o_orderstatus <> prev)
        |SELECT o_custkey AS custkey, o_orderstatus AS status,
        |       o_orderdate AS valid_from,
        |       lead(o_orderdate) OVER w AS valid_to,
        |       (lead(o_orderdate) OVER w IS NULL) AS is_current,
        |       o_orderkey AS chg_orderkey
        |FROM chg
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY custkey, valid_from, chg_orderkey""".stripMargin,
    "q197_scd2_pit" ->
      """WITH h AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |                  lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |           FROM orders),
        |chg AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
        |        FROM h WHERE prev IS NULL OR o_orderstatus <> prev),
        |dim AS (SELECT o_custkey AS custkey, o_orderstatus AS status,
        |               o_orderdate AS valid_from,
        |               lead(o_orderdate) OVER w AS valid_to,
        |               (lead(o_orderdate) OVER w IS NULL) AS is_current,
        |               o_orderkey AS version_key
        |        FROM chg
        |        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |SELECT o.o_orderkey, d.custkey, d.status AS status_at,
        |       d.is_current, d.version_key
        |FROM orders o JOIN dim d ON o.o_custkey = d.custkey
        |  AND o.o_orderdate >= d.valid_from
        |  AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
        |ORDER BY o_orderkey""".stripMargin,
    "q99_embed_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |         list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS scale,
        |         [CAST(floor(CAST(x AS DOUBLE) * 127.0 / list_max([abs(CAST(y AS DOUBLE)) for y in embedding]) + 0.5) AS BIGINT) for x in embedding] AS codes
        |  FROM embeddings),
        |e AS (
        |  SELECT q.vec_id, q.label, CAST(list_sum(q.codes) AS BIGINT) AS code_sum,
        |         list_sum([(CAST(em.embedding[i] AS DOUBLE) - q.codes[i] * q.scale / 127.0)
        |                 * (CAST(em.embedding[i] AS DOUBLE) - q.codes[i] * q.scale / 127.0)
        |                   for i in range(1, len(em.embedding) + 1)]) AS sse
        |  FROM q JOIN embeddings em ON q.vec_id = em.vec_id)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(code_sum) AS BIGINT) AS code_checksum,
        |       round(avg(sse), 6) AS avg_sse
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
    "q100_dup_clusters" -> dupClustersOracle,
    // q106 is the same contract through the star-contraction components
    // routine — one ground truth for both implementations
    "q106_dup_clusters_star" -> dupClustersOracle,
    "q101_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, value, event_id FROM events WHERE user_id < 20),
        |daily AS (SELECT user_id, tus // 86400000000 AS day, value,
        |                 row_number() OVER (PARTITION BY user_id, tus // 86400000000
        |                                    ORDER BY tus DESC, event_id DESC) AS rn
        |          FROM e),
        |last_per_day AS (SELECT user_id, day, value FROM daily WHERE rn = 1),
        |spine AS (SELECT user_id, unnest(range(min(day), max(day) + 1)) AS day
        |          FROM last_per_day GROUP BY user_id),
        |j AS (SELECT s.user_id, s.day, l.value
        |      FROM spine s LEFT JOIN last_per_day l ON s.user_id = l.user_id AND s.day = l.day)
        |SELECT user_id, CAST(day AS BIGINT) AS day,
        |       last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q102_fuzzy_match" ->
      """WITH names AS (SELECT p_name, string_split(p_name, ' ')[-1] AS noun,
        |                      CAST(count(*) AS BIGINT) AS n_parts
        |               FROM part GROUP BY 1, 2)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |       a.n_parts AS cnt_a, b.n_parts AS cnt_b
        |FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    "q103_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(epoch_us(ts)) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_us(ts)) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2 GROUP BY 1),
        |f AS (SELECT v.user_id,
        |             (c.t2 IS NOT NULL AND c.t2 - v.t1 <= 604800000000) AS s2,
        |             (p.t3 IS NOT NULL AND c.t2 - v.t1 <= 604800000000 AND p.t3 - v.t1 <= 604800000000) AS s3
        |      FROM v LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON c.user_id = p.user_id)
        |SELECT 'stage1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM f
        |UNION ALL SELECT 'stage2_click', CAST(count(*) AS BIGINT) FROM f WHERE s2
        |UNION ALL SELECT 'stage3_purchase', CAST(count(*) AS BIGINT) FROM f WHERE s3
        |ORDER BY stage""".stripMargin,
    "q119_retention_cohort" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e WHERE event_type = 'purchase' GROUP BY 1),
        |j AS (SELECT DISTINCT e.user_id, f.cohort_day, e.day - f.cohort_day AS day_offset
        |      FROM e JOIN f ON e.user_id = f.user_id WHERE e.day >= f.cohort_day)
        |SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS users
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q111_pii_scrub" ->
      s"""WITH injected AS (
        |  SELECT doc_id, lang,
        |         text ||
        |         CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
        |       CAST(len(regexp_extract_all(text, '$IpRe')) AS BIGINT) AS n_ips,
        |       md5(regexp_replace(regexp_replace(regexp_replace(text,
        |           '$EmailRe', '[EMAIL]', 'g'),
        |           '$PhoneRe', '[PHONE]', 'g'),
        |           '$IpRe', '[IP]', 'g')) AS scrub_md5
        |FROM injected ORDER BY doc_id""".stripMargin,
    "q104_incremental_dedup" -> incrementalDedupOracle,
    // q107 is the same contract probed through the PERSISTED bucketed
    // band index — one ground truth for both shapes
    "q107_indexed_dedup" -> incrementalDedupOracle,
    "q105_curation_pipeline" ->
      s"""WITH ${TrainingData.minhashPairsCtes},
        |$ccCtes,
        |nonroots AS (SELECT node FROM rec WHERE node <> root),
        |gated AS (
        |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         md5(text) AS digest
        |  FROM documents WHERE n_chars BETWEEN 20 AND 5000),
        |deduped AS (
        |  SELECT doc_id, lang, n_tokens FROM (
        |    SELECT doc_id, lang, n_tokens,
        |           row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
        |    FROM gated) WHERE rn = 1
        |      AND doc_id NOT IN (SELECT node FROM nonroots)),
        |split AS (
        |  SELECT lang,
        |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |         n_tokens
        |  FROM (SELECT lang, n_tokens,
        |               ${TrainingData.md5Hash16Sql()} % 100 AS b
        |        FROM deduped))
        |SELECT lang, split, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM split GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
