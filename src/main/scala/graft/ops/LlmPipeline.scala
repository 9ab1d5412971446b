package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{CH, Engine}

/** Training-data curation operators beyond near-dup/similarity
  * (project brief: "the operations a large-scale training-data
  * pipeline would need"): stratified corpus sampling, pattern
  * redaction, deterministic shard-shuffle, and fixed-budget sequence
  * packing. All are pure Catalyst expressions over `documents` —
  * every one is deterministic and oracle-checked against DuckDB.
  *
  * Scale design: L14/L15 are narrow per-row maps folded into the scan
  * (one pass, no shuffle beyond the final rollup); L16's shard key is
  * a hash prefix, so the "shuffle" is one exchange on a uniform key;
  * L17's running total is computed hierarchically (chunk-local window
  * + broadcast chunk offsets) so no single task ever sorts a whole
  * language's corpus.
  */
object LlmPipeline {
  type Q = (SparkSession, String) => DataFrame

  private def toks: Column = filter(split(col("text"), " "), t => t =!= "")

  /** L14: stratified sampling — per-language keep rates applied with a
    * deterministic hash of the doc id (same mechanism as B5's
    * sampling-key SAMPLE, so the same rows are kept on every run and
    * every replica). High-resource strata are downsampled harder: en
    * keeps 32/256 ≈ 12.5 %, the rest keep 128/256 = 50 % — the
    * classic corpus-rebalancing shape. One scan, one rollup shuffle on
    * `lang`. */
  private def l14StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val key = substring(md5(col("doc_id").cast("string")), 1, 2)
    val thresh = when(col("lang") === "en", lit("20")).otherwise(lit("80"))
    Engine.t(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        CH.countIf(key < thresh).as("n_kept"))
      .withColumn("keep_rate",
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("lang")
  }

  /** L15: pattern redaction — the PII-scrub shape (emails, phone
    * numbers, ids) as a single codegen'd `regexp_replace` folded into
    * the scan. The synthetic corpus carries no digits, so the term
    * list here redacts entity-like words; the mechanism is byte-for-
    * byte the production one: match count + redacted text length per
    * document, one narrow pass, no shuffle before the ORDER BY. */
  private def l15PatternScrub(spark: SparkSession, dir: String): DataFrame =
    Engine.t(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '\\\\b(customer|order)\\\\b', 0)")).as("n_redacted"),
        length(regexp_replace(col("text"), "\\b(customer|order)\\b", "<ENT>")).as("len_scrubbed"),
        length(col("text")).as("len_raw"))
      .orderBy("doc_id")

  /** L16: deterministic shard-shuffle — the "shuffle the corpus into N
    * training shards" step. The shard key is a hash prefix of the doc
    * id: stable across runs/replicas (no RNG), uniform across shards,
    * and independent of ingest order — exactly one exchange on a
    * 16-value key. A writer would `partitionBy("shard")` this; the
    * declared op emits the per-shard manifest. */
  /** The l16 shard key: first hex nibble of md5(doc_id) → 16 shards.
    * A pure function of the id — shard assignment is independent of
    * ingest order, partitioning, and replica by construction; its
    * uniformity across shards is pinned by a chi-square bound in
    * `LlmOpsSpec` (silent shard skew is the failure mode that hurts
    * most at 100 TB: one hot shard serializes every training epoch). */
  def shardKey(id: Column): Column = substring(md5(id.cast("string")), 1, 1)

  private def l16ShardShuffle(spark: SparkSession, dir: String): DataFrame =
    Engine.t(spark, dir, "documents")
      .groupBy(shardKey(col("doc_id")).as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy("shard")

  /** L17: sequence packing — assign documents (in deterministic
    * doc_id order per language) to fixed token-budget packs:
    * `pack_id = floor(exclusive_cumsum(tokens) / budget)`, the greedy
    * spillover packer training pipelines use to fill context windows.
    *
    * The running total is computed HIERARCHICALLY, not with one
    * whole-language window: a window over (lang, chunk-of-64-docs)
    * computes chunk-local cumsums in parallel, chunk totals roll up to
    * a tiny per-language prefix-sum (thousands of rows at 100 TB) that
    * broadcasts back as offsets. No task ever sorts a whole language —
    * the two-level distributed prefix sum. The DuckDB oracle computes
    * the same quantity with a flat window, pinning the decomposition's
    * correctness. */
  private def l17SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val chunkRows = 64L
    val base = Engine.t(spark, dir, "documents")
      .select(col("lang"), col("doc_id"), size(toks).cast("long").as("n_toks"))
      .withColumn("chunk", CH.intDiv(col("doc_id"), lit(chunkRows)))
    val localW = Window.partitionBy("lang", "chunk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsetW = Window.partitionBy("lang").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("lang", "chunk")
      .agg(sum(col("n_toks")).as("chunk_sum"))
      .withColumn("offset", coalesce(sum(col("chunk_sum")).over(offsetW), lit(0L)))
      .select("lang", "chunk", "offset")
    base
      .withColumn("local_cum", sum(col("n_toks")).over(localW))
      .join(broadcast(offsets), Seq("lang", "chunk"))
      .withColumn("cum", col("local_cum") + col("offset"))
      .withColumn("pack_id", floor((col("cum") - col("n_toks")).cast("double") / lit(budget.toDouble)))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("pack_tokens"))
      .orderBy("lang", "pack_id")
  }

  /** L18: near-dup resolution — the step after candidate generation:
    * collapse the similarity graph into components and elect one
    * canonical doc per component (min id), producing the keep/drop
    * verdict a dedup pipeline actually ships. Components are computed
    * with min-label propagation — each round every node takes the
    * minimum label among itself and its neighbors, converging in
    * O(graph diameter) rounds of one join + one aggregate each; this
    * is the standard distributed connected-components shape (no
    * driver-side graph, state = one (node, label) row per doc). The
    * pair graph here is the deterministic n-gram Jaccard stage (L10's
    * exact verifier, τ = 0.08), so DuckDB reproduces it and checks the
    * components via a recursive CTE — an independent algorithm
    * confirming the fixpoint. The per-round convergence check is one
    * aggregated count, not a collected dataset. */
  /** The deterministic demo component graph shared by l18/l37b/l38:
    * 2-gram Jaccard τ=0.08 over the ≤40-doc prefix (bounded oracle
    * stage — DuckDB replays it with a recursive reachability CTE; the
    * scale path is [[verifiedPairs]] + [[minLabelComponents]] over LSH
    * candidates only). Returns (doc_id, label). */
  private def demoComponents(spark: SparkSession, dir: String): DataFrame = {
    val sh = Engine.t(spark, dir, "documents")
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), array_distinct(LlmText.ngrams2(col("text"))).as("grams"))
    val a = sh.select(col("doc_id").as("a"), col("grams").as("ga"))
    val b = sh.select(col("doc_id").as("b"), col("grams").as("gb"))
    val inter = size(array_intersect(col("ga"), col("gb")))
    // broadcast the (bounded) right side — a bare CartesianProduct is
    // |left splits| × |right splits| TASKS, and minLabelComponents
    // re-evaluates this frame every CC round: quadratic scheduling ×
    // rounds on a many-file layout (l18/l37b/l38 each ~350-414 s at
    // sf100, ~1 s once broadcast).
    val pairs = a.crossJoin(broadcast(b)).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (inter.cast("double") /
          (size(col("ga")) + size(col("gb")) - inter).cast("double")).as("j"))
      .filter(col("j") >= 0.08)
      .select("a", "b")
    minLabelComponents(spark, sh.select("doc_id"), pairs)
  }

  private def l18NeardupResolve(spark: SparkSession, dir: String): DataFrame =
    demoComponents(spark, dir)
      .groupBy(col("label").as("keep_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("keep_id")

  /** Distributed connected components by min-label propagation —
    * shared by l18 (oracle demo form) and l37 (the end-to-end
    * pipeline). `nodes` = (doc_id); `pairs` = undirected edges (a, b).
    * Labels converge to the component's min doc_id in O(diameter)
    * rounds. The iteration state (labels, edges) is tiny relative to
    * the corpus — shuffle partitions are sized to the measured edge
    * frontier (~100k edges per partition, floor 4, never above the
    * session default), not to the corpus or a constant; and
    * localCheckpoint truncates the per-round lineage so round k's plan
    * doesn't re-optimize rounds 1..k-1. Returns (doc_id, label),
    * materialized. */
  private[ops] def minLabelComponents(
      spark: SparkSession, nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val spKey = "spark.sql.shuffle.partitions"
    val spPrev = spark.conf.get(spKey)
    val edges0 = pairs.union(pairs.select(col("b").as("a"), col("a").as("b"))).localCheckpoint()
    val nEdges = edges0.count()
    spark.conf.set(spKey,
      math.max(4L, math.min(spPrev.toLong, nEdges / 100000L)).toString)
    try {
      val edges = edges0
      var labels = nodes.select(col("doc_id"), col("doc_id").as("label")).localCheckpoint()
      var converged = false
      var rounds = 0
      while (!converged && rounds < 20) {
        val nbrMin = edges.join(labels, edges("b") === labels("doc_id"))
          .groupBy("a").agg(min(col("label")).as("nbr_label"))
        // one pass carries both the new label and the convergence bit —
        // no separate old-vs-new join per round
        val step = labels.join(nbrMin, labels("doc_id") === nbrMin("a"), "left")
          .select(labels("doc_id"), col("label").as("old_label"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
          .localCheckpoint()
        val changed = step.filter(col("label") =!= col("old_label")).count()
        labels = step.select("doc_id", "label")
        converged = changed == 0
        rounds += 1
      }
      // a component with diameter > the round cap would otherwise return
      // silently-wrong labels, corrupting every keeper election (l37) and
      // leakage-safe split (l38) built on them — fail loudly instead
      require(converged,
        s"minLabelComponents did not converge in $rounds rounds " +
          "(component diameter exceeds the cap); raise the round cap")
      labels
    } finally spark.conf.set(spKey, spPrev)
  }

  /** L37: the end-to-end near-dup dedup pipeline — the production
    * composition whose stages l1/l4/l10/l18 each demo in isolation
    * (VERDICT r7 #3): (0) collapse EXACT duplicates first (md5 text
    * hash → min-doc_id representative — the C4/RefinedWeb ordering,
    * and the decisive scale stage: a raw crawl is mostly exact copies,
    * and within-bucket LSH pair counts grow QUADRATICALLY in copy
    * count. The sf10 rehearsal measured it: its replica gives every
    * doc ~100 exact copies and the rep-less pipeline spent 321 s
    * listing ~25 M intra-copy pairs that the hash collapse removes for
    * the cost of one groupBy); (1) candidate pairs from l4's banded
    * MinHash-LSH buckets over REPRESENTATIVES ONLY (band-bucket
    * self-join — never all-pairs); (2) exact-verify ONLY those
    * candidates with 3-shingle Jaccard ≥ 0.6 (false LSH collisions die
    * here; the pair set is LSH-sized, not corpus²); (3) elect keepers
    * via distributed min-label component propagation over verified
    * edges; (4) verdict: every doc inherits its representative's
    * component label; the component's min doc_id survives (reps are
    * per-group minima, so the elected keeper is identical to running
    * the graph over all members — identical texts always share buckets
    * and verify at Jaccard 1). No oracle (the LSH hash family is
    * engine-internal); `LlmOpsSpec` plants a 3-doc near-dup group and
    * asserts it collapses to one keeper while unrelated docs survive.
    *
    * Degenerate-doc nuance: docs too short to form a 3-shingle have an
    * empty gram set; Jaccard is 0/0 → null there, so the member-graph
    * form could NOT link even identical short docs. The exact-collapse
    * stage dedups them by text hash anyway — strictly more correct for
    * a dedup pipeline (exact copies must dedup regardless of length). */
  /** Stage 0: (doc_id → exact-duplicate representative). Only
    * (doc_id, md5) pairs shuffle — never text. Shape matters for skew
    * (VERDICT r17 #4): a `Window.partitionBy(h)` lands every copy of a
    * viral exact-duplicate (one text repeated 10⁹ times) on ONE window
    * partition; `groupBy(h).agg(min)` + join back gets map-side
    * partial aggregation — each task forwards one (h, min_id) row per
    * hash — and the join back is hash-vs-hash equi (AQE skew-split
    * handles the probe side). Bit-identical output; `PlanShapeSpec`
    * pins the partial-agg shape.
    *
    * The (doc_id, h) pairs STAGE to scratch parquet first (the
    * l22/d36 staging rule): both join legs would otherwise re-derive
    * the text scan + md5 — the only part of this op that touches the
    * 100 TB corpus — once each, and the op's two callers (l37's
    * verify stage and the verdict table) would double that again.
    * Staged rows are 16-byte hash + id; the write happens once per
    * session per sf dir. */
  /** Staged-once registry keyed path → SOURCE FINGERPRINT (file names
    * + lengths + mtimes of the documents parquet). A plain staged-once
    * set went stale if the source dir changed mid-session (ADVICE r18:
    * appends/overwrites after the first stage silently reused the old
    * snapshot); a listing change now invalidates and re-stages. */
  private val repPairsStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sourceFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[String] = {
      val kids = Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
      if (kids.isEmpty) Seq(s"${f.getName}:${f.length}:${f.lastModified}")
      else kids.flatMap(walk)
    }
    walk(new java.io.File(s"$dir/documents.parquet")).mkString("|")
  }

  private[graft] def exactRepMap(spark: SparkSession, dir: String): DataFrame = {
    val path = Engine.scratch(spark, dir, "l37_rep_pairs")
    val fp = sourceFingerprint(dir)
    repPairsStaged.synchronized {
      if (repPairsStaged.get(path) != fp) {
        Engine.t(spark, dir, "documents")
          .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
          .write.mode("overwrite").parquet(path)
        repPairsStaged.put(path, fp): Unit
      }
    }
    // fixed artifact schema (writer above) — skip footer inference
    val pairs = spark.read.schema("doc_id BIGINT, h STRING").parquet(path)
    val reps = pairs.groupBy("h").agg(min("doc_id").as("rep_id"))
    pairs.join(reps, "h").select("doc_id", "rep_id")
  }

  /** Stages 1–2 of l37: LSH candidates over exact-dedup
    * representatives, exact-verified by 3-shingle Jaccard ≥ 0.6.
    * Factored out so `PlanShapeSpec` can pin that the verify stage
    * joins ONLY on candidate doc ids (equi joins — never a
    * CartesianProduct / nested loop against the corpus). */
  private[graft] def verifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    val reps = Engine.t(spark, dir, "documents")
      .join(exactRepMap(spark, dir).filter(col("doc_id") === col("rep_id"))
        .select("doc_id"), "doc_id")
    val grams = reps.select(col("doc_id"),
      array_distinct(LlmText.ngrams(toks, 3)).as("grams"))
    val inter = size(array_intersect(col("ga"), col("gb")))
    LlmText.lshCandidatesOf(reps)
      .join(grams.select(col("doc_id").as("a"), col("grams").as("ga")), "a")
      .join(grams.select(col("doc_id").as("b"), col("grams").as("gb")), "b")
      .select(col("a"), col("b"),
        (inter.cast("double") /
          (size(col("ga")) + size(col("gb")) - inter).cast("double")).as("j"))
      .filter(col("j") >= 0.6)
      .select("a", "b")
  }

  def dedupVerdicts(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.t(spark, dir, "documents")
    val repMap = exactRepMap(spark, dir)
    val repLabels = minLabelComponents(spark,
      repMap.filter(col("doc_id") === col("rep_id")).select("doc_id"),
      verifiedPairs(spark, dir))
      .withColumnRenamed("doc_id", "rep_id")
    docs.select(col("doc_id"), col("source"))
      .join(repMap, "doc_id")
      .join(repLabels, "rep_id")
      .select(col("doc_id"), col("source"), col("label").as("keep_id"),
        (col("doc_id") === col("label")).as("is_keeper"))
  }

  /** The verdict table STAGED once per (session, sf, source
    * fingerprint) — VERDICT r18 next #6: l37's rollup and l38's split
    * both consume the same (doc_id, keep_id) artifact, and each
    * consumer re-derived the whole pipeline (LSH bands, Jaccard
    * verify, min-label rounds) from the corpus. At scale a pipeline
    * persists this table anyway; downstream rows read the id-sized
    * artifact, not the corpus again. Fingerprint-keyed like
    * [[exactRepMap]], so a changed source re-stages. */
  private val verdictsStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def dedupVerdictsStaged(spark: SparkSession, dir: String): DataFrame = {
    val path = Engine.scratch(spark, dir, "l37_verdicts")
    val fp = sourceFingerprint(dir)
    verdictsStaged.synchronized {
      if (verdictsStaged.get(path) != fp) {
        dedupVerdicts(spark, dir).write.mode("overwrite").parquet(path)
        verdictsStaged.put(path, fp): Unit
      }
    }
    // fixed artifact schema (dedupVerdicts' projection) — skip inference
    spark.read.schema("doc_id BIGINT, source STRING, keep_id BIGINT, is_keeper BOOLEAN")
      .parquet(path)
  }

  /** The train/val split coin: md5-hex-prefix threshold on the KEEPER
    * id (b5/l14's oracle-reproducible-hash precedent — NOT Spark
    * Murmur3, so DuckDB replays the exact assignment). First two hex
    * chars < 'e6' ⇒ train: 230/256 ≈ 89.8% — the ~90/10 split. */
  private def splitCoin(keepId: Column): Column =
    when(substring(md5(keepId.cast("string")), 1, 2) < "e6", "train").otherwise("val")

  /** L38: leakage-safe train/val split — the eval-hygiene step after
    * dedup: a document and its near-duplicates must land in the SAME
    * split, or the val set leaks into training. Guaranteed by
    * construction: the split coin is hashed from `keep_id` — the dedup
    * component's elected keeper (l37), not the doc id — so every
    * member of a near-dup group flips the same coin. Scale path
    * (LSH-graph, whole corpus); `LlmOpsSpec` plants a near-dup group
    * and asserts co-assignment. */
  def splitAssignments(spark: SparkSession, dir: String): DataFrame =
    dedupVerdictsStaged(spark, dir).withColumn("split", splitCoin(col("keep_id")))

  /** Declared l38: the FULL per-doc split assignment over the demo
    * component graph — every stage (pair graph, components, keeper,
    * coin) is engine-independent, so DuckDB replays the exact
    * assignment through l18's recursive-CTE components + the md5 coin
    * (hash-matched oracle, not an invariant — co-assignment within a
    * component is checked row-by-row by the oracle because split is a
    * function of keep_id in both engines). */
  private def l38TrainValSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.t(spark, dir, "documents").filter(col("doc_id") < 40)
    docs.select(col("doc_id"), col("source"))
      .join(demoComponents(spark, dir), "doc_id")
      .select(col("doc_id"), col("source"), col("label").as("keep_id"),
        splitCoin(col("label")).as("split"))
      .orderBy("doc_id")
  }

  /** L38b: the leakage invariant + volume rollup over the SCALE path
    * (LSH graph, whole corpus): `n_leaky_groups` = components spanning
    * both splits — 0 by construction; a regression to per-doc hashing
    * makes it nonzero immediately. No oracle (LSH hash family is
    * engine-internal); the co-assignment spec is in `LlmOpsSpec`. */
  private def l38bSplitRollup(spark: SparkSession, dir: String): DataFrame = {
    // The assignment reads the STAGED verdict table (dedup runs once
    // per session — the r19 stage-share); both consumers below scan
    // the id-sized artifact, never the corpus.
    val assigned = splitAssignments(spark, dir)
    val leaky = assigned.groupBy("keep_id")
      .agg(count_distinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .agg(count(lit(1)).as("n_leaky_groups"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("keep_id")).as("n_groups"))
      .crossJoin(leaky)
      .select("split", "n_docs", "n_groups", "n_leaky_groups")
      .orderBy("split")
  }

  /** Declared l38c: the l37→l38 COMPOSITION end-to-end over a bounded
    * doc prefix with the MD5 hash family — exact-collapse (md5 text
    * hash → min-doc rep), MinHash-LSH candidates over reps
    * ([[LlmText.md5LshBands]], the l4b construction DuckDB replays via
    * `md5_number_upper`), 3-shingle Jaccard ≥ 0.6 verify on candidates
    * only, min-label component election, keeper + md5 split coin. The
    * oracle replays EVERY stage independently (window rep-collapse,
    * SQL minhash signatures, brute candidate join, recursive-CTE
    * reachability for components — a different CC algorithm than the
    * label-propagation fixpoint) and the 300-row per-doc assignment
    * hash-matches row-by-row. This closes the gap l37b/l38 left: those
    * certify the demo component graph; this certifies the PRODUCTION
    * pipeline shape itself (LSH funnel feeding the election feeding
    * the coin), with only the hash kernel swapped (xxhash64 → MD5) —
    * the same single-substitution pattern as l13b/l4b. */
  private def l38cSplitVerdict(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.t(spark, dir, "documents").filter(col("doc_id") < 300)
    val w = Window.partitionBy("h")
    val repMap = docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .withColumn("rep_id", min("doc_id").over(w))
      .select("doc_id", "rep_id")
    val reps = docs.join(
      repMap.filter(col("doc_id") === col("rep_id")).select("doc_id"), "doc_id")
    val withSg = reps.select(col("doc_id"), LlmText.ngrams(toks, 3).as("sg"))
      .filter(size(col("sg")) > 0)
    val bands = LlmText.md5LshBands(withSg)
    val cand = bands.select(col("band"), col("sig"), col("doc_id").as("a"))
      .join(bands.select(col("band"), col("sig"), col("doc_id").as("b")), Seq("band", "sig"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val grams = withSg.select(col("doc_id"), array_distinct(col("sg")).as("g"))
    val inter = size(array_intersect(col("ga"), col("gb")))
    val verified = cand
      .join(grams.select(col("doc_id").as("a"), col("g").as("ga")), "a")
      .join(grams.select(col("doc_id").as("b"), col("g").as("gb")), "b")
      .filter((inter.cast("double") /
        (size(col("ga")) + size(col("gb")) - inter).cast("double")) >= 0.6)
      .select("a", "b")
    val repLabels = minLabelComponents(spark, reps.select("doc_id"), verified)
      .select(col("doc_id").as("rep_id"), col("label"))
    docs.select("doc_id").join(repMap, "doc_id").join(repLabels, "rep_id")
      .select(col("doc_id"), col("label").as("keep_id"),
        (col("doc_id") === col("label")).as("is_keeper"),
        splitCoin(col("label")).as("split"))
      .orderBy("doc_id")
  }

  /** L39: INTRA-document span dedup — C4's "remove repeated spans
    * inside a document" curation rule (distinct from l22's CROSS-doc
    * chunk dedup): the doc's token stream is cut into non-overlapping
    * 2-token spans, only the FIRST occurrence of each distinct span
    * survives (`array_distinct` keeps first-occurrence order), and the
    * rollup reports the per-source removal mass. Pure per-row
    * higher-order expressions — a narrow scan-speed map, one rollup
    * shuffle; at 100 TB this composes into the same pass as the other
    * per-row gates (l8/l21/l26). */
  private def l39IntradocDedup(spark: SparkSession, dir: String): DataFrame = {
    val nSpans = (size(toks) / 2).cast("int")
    val spans = when(nSpans > 0, transform(sequence(lit(0), nSpans - 1),
      i => array_join(slice(toks, i * 2 + 1, lit(2)), " ")))
      .otherwise(array().cast("array<string>"))
    Engine.t(spark, dir, "documents")
      .select(col("source"), spans.as("sp"))
      .select(col("source"), size(col("sp")).as("n"),
        size(array_distinct(col("sp"))).as("nd"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_spans"),
        sum(col("n") - col("nd")).as("n_dup_spans"),
        sum((col("n") - col("nd")) * 2).as("tokens_removed"))
      .orderBy("source")
  }

  /** L43: CROSS-document repeated-substring spans — the suffix-array
    * dedup family (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): find every W-token window that occurs in
    * ≥2 distinct documents, then merge the per-document hit positions
    * into MAXIMAL duplicated intervals (the spans a pipeline would cut
    * out). Distinct from l22 (non-overlapping chunks — misses spans
    * straddling a chunk boundary) and l39 (intra-doc only): the sliding
    * window catches every cross-doc repetition at W-token resolution.
    *
    * Scale shape (the suffix array itself is replaced by relational
    * primitives): tokenize+slide is a NARROW map — one row per token
    * position, linear in corpus tokens; the gram TEXT never leaves the
    * map side (hashed to 64 bits immediately, expected collisions
    * G²/2⁶⁵ ≈ 0.005 at 100 TB's ~10¹³ grams — and a collision only
    * OVER-marks a span, it cannot miss one); the (doc,pos,hash) stream
    * feeds two consumers (dup-set rollup + membership join), so it is
    * staged to scratch once (the l22/l24b multi-consumer rule); the
    * dup set shuffles on the 8-byte hash and is orders of magnitude
    * smaller than the corpus; the island merge windows per doc_id —
    * bounded by a single document's token count, never global. */
  private def l43RepeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val W = 6
    val base = Engine.t(spark, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_toks"), col("t"))
      .filter(col("n_toks") >= W)
    val grams = base
      .withColumn("pos", explode(sequence(lit(1), (col("n_toks") - (W - 1)).cast("int"))))
      .select(col("doc_id"), col("n_toks"), col("pos"),
        xxhash64(concat_ws(" ", slice(col("t"), col("pos"), lit(W)))).as("h"))
    val g = Engine.stage(grams, dir, "l43_grams")
    val dup = g.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val hits = g.join(dup, Seq("h")).select("doc_id", "n_toks", "pos")
    // Gaps-and-islands per doc: windows [pos, pos+W-1] merge while the
    // next start is ≤ prev start + W (overlap or exact adjacency).
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= W, lit(0)).otherwise(lit(1)))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("n_toks"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (W - 1)).as("e"))
    spans.groupBy("doc_id", "n_toks")
      .agg(
        count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"))
      .select(
        col("doc_id"), col("n_dup_spans"), col("dup_tokens"), col("n_toks"),
        round(col("dup_tokens").cast("double") / col("n_toks").cast("double"), 6)
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  private def l37DedupPipeline(spark: SparkSession, dir: String): DataFrame =
    dedupVerdictsStaged(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        CH.countIf(col("is_keeper")).as("n_kept"),
        CH.countIf(!col("is_keeper")).as("n_dropped"))
      .orderBy("source")

  /** L37b: the VERDICT TABLE itself — (doc_id, source, keep_id,
    * is_keeper), l37's shipped artifact — over the demo component
    * graph, so the keeper election is hash-matched row-by-row against
    * DuckDB's recursive-CTE components (the scale path's election is
    * the same `minLabelComponents` — l37 rolls it up; `LlmOpsSpec`
    * plants groups against it). */
  private def l37bVerdictTable(spark: SparkSession, dir: String): DataFrame =
    Engine.t(spark, dir, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id"), col("source"))
      .join(demoComponents(spark, dir), "doc_id")
      .select(col("doc_id"), col("source"), col("label").as("keep_id"),
        (col("doc_id") === col("label")).as("is_keeper"))
      .orderBy("doc_id")

  /** L19: corpus mixing — hit a per-source quota (the "data mixture"
    * step of pretraining prep). Docs rank within their source by a
    * deterministic hash of the id (stable across runs/replicas, no
    * RNG) and the first `quota(source)` survive; even-numbered sources
    * get 10, odd get 18 — the rebalancing shape. One window per
    * source partition + one rollup; at 100 TB the rank never sorts
    * more than one source's slice per task group. */
  private def l19CorpusMix(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val quota = when(srcNum % 2 === 0, lit(10)).otherwise(lit(18))
    val w = Window.partitionBy("source").orderBy(md5(col("doc_id").cast("string")))
    Engine.t(spark, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        CH.countIf(col("rk") <= quota).as("n_kept"))
      .orderBy("source")
  }

  /** L20: benchmark decontamination — flag corpus documents sharing
    * any 4-gram with an evaluation set (the GPT-3/PaLM n-gram-overlap
    * decontamination shape; 13-grams in production, 4 here to match
    * the synthetic corpus' gram entropy). The eval set's distinct
    * grams BROADCAST (benchmark suites are tiny next to the corpus),
    * so corpus grams are checked map-side during the scan — the only
    * exchange is the final per-source rollup. At 100 TB the corpus
    * side stays one narrow pass; the eval gram set is bounded by the
    * benchmark suite, not the corpus. */
  private def l20Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Engine.t(spark, dir, "documents")
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(array_distinct(LlmText.ngrams(toks, 4))).as("gram"))
    val evalGrams = grams(d.filter(col("doc_id") < 20)).select("gram").distinct()
    val hits = grams(d.filter(col("doc_id") >= 20))
      .join(broadcast(evalGrams), Seq("gram"))
      .select("doc_id").distinct()
      .withColumn("hit", lit(1))
    d.filter(col("doc_id") >= 20)
      .join(hits, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_contaminated"))
      .withColumn("contamination_rate",
        round(col("n_contaminated").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("source")
  }

  /** L21: intra-document repetition filter — the Gopher quality rules'
    * repetition family: duplicate-token ratio (1 − distinct/total) and
    * top-token fraction, thresholded into a keep/drop verdict.
    * Two-level hash aggregate ((doc,token) then doc), both partially
    * aggregated map-side — no collected token lists, so a pathological
    * 1 GB document costs its token count, not a buffered array. */
  private def l21RepetitionFilter(spark: SparkSession, dir: String): DataFrame =
    Engine.t(spark, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).cast("long").as("n_toks"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).cast("long").as("top_count"))
      .select(
        col("doc_id"), col("n_toks"), col("n_distinct"), col("top_count"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_toks").cast("double"), 6)
          .as("dup_ratio"),
        round(col("top_count").cast("double") / col("n_toks").cast("double"), 6)
          .as("top_frac"),
        ((lit(1.0) - col("n_distinct").cast("double") / col("n_toks").cast("double")) <= 0.52 &&
          col("top_count").cast("double") / col("n_toks").cast("double") <= 0.10)
          .as("quality_pass"))
      .orderBy("doc_id")

  /** L22: cross-document segment dedup — the C4-style "same 8-token
    * chunk appears in more than one document" pass that catches
    * boilerplate exact dedup misses. Non-overlapping 8-token chunks
    * (each token contributes to exactly one chunk, so the explode is
    * ~n_tokens/8 rows), one shuffle on the chunk hash, and a join of
    * the duplicated-chunk set back to mark offending documents. At
    * 100 TB chunk hashes are 16-byte keys and the dup set is orders of
    * magnitude smaller than the corpus — the mark-back join broadcasts
    * in practice (declared as a plain join so the planner can fall
    * back to shuffle when it does not). */
  private def l22ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val t = toks
    val nChunks = floor(size(t) / 8).cast("int")
    val idx = when(nChunks > 0, sequence(lit(0), nChunks - 1))
      .otherwise(array().cast("array<int>"))
    val chunks = Engine.t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(transform(idx, i => array_join(slice(t, i * 8 + 1, lit(8)), " "))).as("chunk"))
    // One explode pass: the plan consumes the chunk stream twice (the
    // per-chunk stats and the dup-doc membership join), and Spark
    // re-runs the corpus explode per consumer. Pre-aggregate to
    // (chunk, doc_id, occ) — the minimal artifact both consumers need
    // — and stage it once.
    val occPerDoc = Engine.stage(
      chunks.groupBy("chunk", "doc_id").agg(count(lit(1)).as("occ")), dir, "l22_chunk_doc")
    val byChunk = occPerDoc.groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
    val dupChunks = byChunk.filter(col("n_docs") > 1)
    val docsWithDup = occPerDoc.join(dupChunks.select("chunk"), Seq("chunk"))
      .select("doc_id").distinct()
    dupChunks
      .agg(
        count(lit(1)).as("n_dup_chunks"),
        sum(col("n_occ")).cast("long").as("n_dup_occurrences"))
      .crossJoin(byChunk.agg(count(lit(1)).as("n_chunks_distinct")))
      .crossJoin(docsWithDup.agg(count(lit(1)).as("n_docs_with_dup")))
      .select("n_chunks_distinct", "n_dup_chunks", "n_dup_occurrences", "n_docs_with_dup")
  }

  /** L48 (r17): EXACT-SUBSTRING dedup with document REASSEMBLY — the
    * transformation step of Lee et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better"). Where l22 only MARKS
    * documents containing cross-doc duplicated chunks, this op REMOVES
    * every non-first occurrence of each 8-token chunk corpus-wide and
    * REBUILDS the surviving text per document. "First occurrence" =
    * smallest (doc_id, idx) among the chunk's occurrences — a total,
    * storage-order-free rule, so the result is deterministic under any
    * partitioning. Plan shape: the chunk stream shuffles ONCE on the
    * chunk key (row_number window — each partition holds one chunk's
    * occurrence list, bounded by that chunk's duplication count, never
    * a corpus-sized partition), the rebuild groups on doc_id; two
    * hash exchanges over ~n_tokens/8 rows total, no global sort, no
    * driver state — the same shape at 100 TB. Tokens past the last
    * full 8-token boundary are outside the chunk domain and excluded
    * from the rebuild (same chunking scope as l22). */
  private def l48ExactSubstrDedup(spark: SparkSession, dir: String): DataFrame = {
    val t = toks
    val nChunks = floor(size(t) / 8).cast("int")
    val idxArr = when(nChunks > 0, sequence(lit(0), nChunks - 1))
      .otherwise(array().cast("array<int>"))
    val docs = Engine.t(spark, dir, "documents")
    val chunks = docs.select(col("doc_id"),
      posexplode(transform(idxArr, i => array_join(slice(t, i * 8 + 1, lit(8)), " ")))
        .as(Seq("idx", "chunk")))
    val w = Window.partitionBy("chunk").orderBy(col("doc_id"), col("idx"))
    val kept = chunks.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk")), " ").as("kept_text"))
    docs.select(col("doc_id"), nChunks.cast("long").as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("n_chunks") > 0,
          round(coalesce(col("n_kept"), lit(0L)).cast("double") /
            col("n_chunks").cast("double"), 6)).as("retained_ratio"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
      .orderBy("doc_id")
  }

  /** L49 (r18, VERDICT r17 #8): the FULL Lee et al. 2021 production
    * chain composed end-to-end over a bounded doc prefix —
    *
    *   exact-collapse (md5 text hash → min-doc representative, l37's
    *   stage 0) → exact-SUBSTRING removal over representatives (l48's
    *   8-token first-occurrence transformation with per-doc text
    *   reassembly) → near-dup verdict over the REBUILT texts
    *   (3-shingle MD5 MinHash-LSH candidates, Jaccard ≥ 0.6 verify on
    *   candidates only, min-label component election)
    *
    * with the verdict inherited back through the rep map per doc.
    * This is the l38c full-composition-replay pattern with the
    * substring-removal stage spliced into the middle: the DuckDB
    * oracle independently replays EVERY stage (window rep-collapse,
    * the l48 chunk/rebuild SQL, `md5_number_upper` signatures, brute
    * candidate join, recursive-CTE reachability — a different CC
    * algorithm than the label-propagation fixpoint) and the 300-row
    * per-doc assignment hash-matches row-by-row. Plan shape: one
    * chunk-key shuffle (per-chunk occurrence lists, bounded by each
    * chunk's duplication count), one doc_id rebuild shuffle, banded
    * LSH (never all-pairs), equi-join verify — the l37/l48 scale
    * properties composed, nothing new materializes corpus-wide. */
  private def l49DedupChain(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.t(spark, dir, "documents").filter(col("doc_id") < 300)
    // stage 0: exact-collapse (bounded replay of exactRepMap)
    val pairs = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val repsMin = pairs.groupBy("h").agg(min("doc_id").as("rep_id"))
    val repMap = pairs.join(repsMin, "h").select("doc_id", "rep_id")
    val reps = docs.join(
      repMap.filter(col("doc_id") === col("rep_id")).select("doc_id"), "doc_id")
    // stage 1: exact-substring removal over representatives (l48 form)
    val t = toks
    val nChunks = floor(size(t) / 8).cast("int")
    val idxArr = when(nChunks > 0, sequence(lit(0), nChunks - 1))
      .otherwise(array().cast("array<int>"))
    val chunks = reps.select(col("doc_id"),
      posexplode(transform(idxArr, i => array_join(slice(t, i * 8 + 1, lit(8)), " ")))
        .as(Seq("idx", "chunk")))
    val w = Window.partitionBy("chunk").orderBy(col("doc_id"), col("idx"))
    val kept = chunks.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
        x => x.getField("chunk")), " ").as("kept_text"))
    val repText = reps.select("doc_id").join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("kept_text"), lit("")).as("kept_text"))
    // stage 2: near-dup verdict over the REBUILT texts (l38c form)
    val ktoks = filter(split(col("kept_text"), " "), x => x =!= "")
    val withSg = repText.select(col("doc_id"), LlmText.ngrams(ktoks, 3).as("sg"))
      .filter(size(col("sg")) > 0)
    val bands = LlmText.md5LshBands(withSg)
    val cand = bands.select(col("band"), col("sig"), col("doc_id").as("a"))
      .join(bands.select(col("band"), col("sig"), col("doc_id").as("b")), Seq("band", "sig"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val grams = withSg.select(col("doc_id"), array_distinct(col("sg")).as("g"))
    val inter = size(array_intersect(col("ga"), col("gb")))
    val verified = cand
      .join(grams.select(col("doc_id").as("a"), col("g").as("ga")), "a")
      .join(grams.select(col("doc_id").as("b"), col("g").as("gb")), "b")
      .filter((inter.cast("double") /
        (size(col("ga")) + size(col("gb")) - inter).cast("double")) >= 0.6)
      .select("a", "b")
    val repLabels = minLabelComponents(spark, reps.select("doc_id"), verified)
      .select(col("doc_id").as("rep_id"), col("label"))
    docs.select("doc_id").join(repMap, "doc_id").join(repLabels, "rep_id")
      .select(col("doc_id"), col("rep_id"), col("label").as("keep_id"),
        (col("doc_id") === col("label")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** L23: unigram-LM commonness score — the cheap "perplexity-ish"
    * quality proxy: mean corpus frequency of a document's tokens
    * (production pipelines run a KenLM; the plumbing — corpus-wide
    * token statistics joined back per token — is identical). The
    * frequency table is vocabulary-sized, so it BROADCASTS; internals
    * stay in exact integer arithmetic (sum of long counts) so the
    * score is bit-deterministic across partitionings, and the single
    * final division is rounded. */
  private def l23UnigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val tok = Engine.t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks).as("t"))
    val freq = tok.groupBy("t").agg(count(lit(1)).as("f"))
    tok.filter(col("doc_id") < 100)
      .join(broadcast(freq), Seq("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("f")).cast("long").as("sum_freq"))
      .select(
        col("doc_id"), col("n_toks"), col("sum_freq"),
        round(col("sum_freq").cast("double") / col("n_toks").cast("double"), 6)
          .as("mean_token_freq"))
      .orderBy("doc_id")
  }

  /** L26: the composed curation pipeline — the end-to-end keep/drop
    * funnel a pretraining corpus actually ships through: length gate →
    * repetition gate (L21's rules) → stopword-density gate (L7's
    * language signal), reported as a per-source attrition funnel.
    * Every gate is EXACT INTEGER arithmetic (`100·(n−nd) ≤ 55·n`
    * instead of float ratios), so the verdict is bit-identical across
    * engines and partitionings. One token explode, two-level hash agg,
    * one rollup on source — the same shuffle budget as L21 alone. */
  private def l26CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val cnt = Engine.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), explode(toks).as("t"))
      .groupBy("doc_id", "source", "t").agg(count(lit(1)).as("c"))
    val per = cnt.groupBy("doc_id", "source").agg(
      sum(col("c")).as("n"), count(lit(1)).as("nd"), max(col("c")).as("topc"),
      sum(when(col("t").isin(stop: _*), col("c")).otherwise(0L)).as("nstop"))
    val gLen = col("n").between(30, 5000)
    val gRep = (col("n") - col("nd")) * 100 <= col("n") * 55 && col("topc") * 100 <= col("n") * 12
    val gStop = col("nstop") * 100 >= col("n") * 5
    per.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        CH.countIf(gLen).as("pass_len"),
        CH.countIf(gLen && gRep).as("pass_len_rep"),
        CH.countIf(gLen && gRep && gStop).as("n_kept"))
      .orderBy("source")
  }

  /** L46 (CCNet's head/middle/tail split — Wenzek et al. 2020,
    * public): rank every document WITHIN ITS LANGUAGE by a language-
    * model quality score and cut each language into perplexity
    * terciles; downstream mixtures then oversample "head" and drop or
    * down-weight "tail". The score is l23's unigram-LM commonness
    * proxy (mean corpus frequency of the doc's tokens — the plumbing
    * of a KenLM perplexity without the model), held EXACT as the
    * fixed-point integer (sum_freq·10⁶) div n_toks so the ranking key
    * is bit-identical across engines and partitionings; doc_id breaks
    * ties into a total order.
    *
    * Scale shape: the naive form is `ntile(3) OVER (PARTITION BY
    * lang ORDER BY score)` — but a per-language window puts each
    * LANGUAGE on one task, and one language owning most of a 100 TB
    * corpus is a single-task sort (the e15 problem with skew instead
    * of globality). [[DistRank.groupedNtile]] spreads every language
    * across the full 32-partition range exchange and reconstructs the
    * exact per-language ntile from broadcast per-(lang, partition)
    * offsets — driver state is n_langs × 32 rows. The frequency table
    * is vocabulary-sized and broadcasts (l23). DuckDB's flat
    * partitioned ntile is the oracle that pins the decomposition. */
  private def l46CcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    // r20 (the l22/l41 multi-consumer staging rule): the token explode
    // feeds BOTH the vocabulary frequency table and the per-doc score
    // join, so Catalyst replayed the corpus scan + split + explode
    // twice. Pre-aggregate to the (doc, token, count) rollup once and
    // stage it; both consumers read the narrow artifact. Σ c·f equals
    // the per-occurrence Σ f exactly (long integers), so the
    // fixed-point score — and the oracle hash — are unchanged.
    val tok = Engine.stage(Engine.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(toks).as("t"))
      .groupBy("doc_id", "lang", "t").agg(count(lit(1)).as("c")), dir, "l46_doc_tok")
    val freq = tok.groupBy("t").agg(sum(col("c")).as("f"))
    val perDoc = tok
      .join(broadcast(freq), Seq("t"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("c")).cast("long").as("n_toks"),
        sum(col("c") * col("f")).as("sum_freq"))
      .withColumn("score_fp", expr(
        "CAST(CAST(sum_freq AS DECIMAL(38,0)) * 1000000 div n_toks AS BIGINT)"))
    val bucketed = DistRank.groupedNtile(spark, dir, "l46_buckets", perDoc,
      Seq("lang"), Seq(col("score_fp").desc, col("doc_id")), 3, "bkt")
    bucketed.groupBy("lang", "bkt")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        min(col("score_fp")).as("min_score"),
        max(col("score_fp")).as("max_score"))
      .select(col("lang"),
        when(col("bkt") === 1, lit("head"))
          .when(col("bkt") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        col("n_docs"), col("n_tokens"), col("min_score"), col("max_score"))
      .orderBy("lang", "bucket")
  }

  /** L47 (Gopher quality rules — Rae et al. 2021 table A1, public):
    * the rule-based document filter battery applied per doc and
    * reported as a per-source scorecard. Four of the published rules
    * fit a whitespace-token corpus (the newline- and symbol-dependent
    * rules are vacuous on single-line synthetic text): word count in
    * [50, 100 000]; mean word length in [3, 10]; ≥ 80 % of words
    * contain an alphabetic character; at least 2 DISTINCT stop words
    * from the published 8-word list. Every rule is EXACT INTEGER
    * arithmetic on the (doc, token, count) rollup (3n ≤ chars ≤ 10n
    * instead of a float mean — l26's discipline), so the verdict is
    * bit-identical across engines and partitionings. One token
    * explode, two-level hash agg, one rollup on source — l26's
    * shuffle budget exactly. */
  private def l47GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val cnt = Engine.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), explode(toks).as("t"))
      .groupBy("doc_id", "source", "t").agg(count(lit(1)).as("c"))
    val per = cnt.groupBy("doc_id", "source").agg(
      sum(col("c")).as("n"),
      sum(col("c") * length(col("t"))).as("chars"),
      sum(when(col("t").rlike("[a-z]"), col("c")).otherwise(0L)).as("n_alpha"),
      CH.countIf(col("t").isin(stop: _*)).as("n_stop_distinct"))
    val rWords = col("n").between(50, 100000)
    val rWordLen = lit(3) * col("n") <= col("chars") && col("chars") <= lit(10) * col("n")
    val rAlpha = lit(5) * col("n_alpha") >= lit(4) * col("n")
    val rStop = col("n_stop_distinct") >= 2
    per.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        CH.countIf(!rWords).as("fail_words"),
        CH.countIf(!rWordLen).as("fail_wordlen"),
        CH.countIf(!rAlpha).as("fail_alpha"),
        CH.countIf(!rStop).as("fail_stop"),
        CH.countIf(rWords && rWordLen && rAlpha && rStop).as("n_pass"))
      .orderBy("source")
  }

  /** L29: temperature-based source re-sampling (the mT5/XLM-R mixture
    * rule, public): sample source s with probability ∝ p_s^α, realized
    * as a per-doc deterministic keep test with rate r_s ∝ p_s^(α−1),
    * normalized so the rarest source keeps everything. α = 0.5, and
    * p^−0.5 is computed as 1/sqrt(p) — sqrt is IEEE-correctly-rounded
    * in both engines where pow is not, so the floor(r·65536) keep
    * threshold can never disagree across engines. Two tiny shuffles
    * (source counts, final rollup); the rates broadcast back onto a
    * single corpus scan — at 100 TB this is one pass over the data
    * plus a sources-sized side table. */
  private def l29TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.t(spark, dir, "documents")
    val all = Window.partitionBy()
    val rates = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("p", col("n_docs").cast("double") / sum("n_docs").over(all))
      .withColumn("w", lit(1.0) / sqrt(col("p")))
      .withColumn("r", col("w") / max("w").over(all))
      .select("source", "r")
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("u", u)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        CH.countIf(col("u") < floor(col("r") * 65536)).as("n_kept"),
        round(min("r"), 6).as("target_rate"))
      .orderBy("source")
  }

  /** L32: model-based quality scoring — the fastText/CCNet-style
    * learned quality filter (public pipeline stage), reduced to its
    * runtime shape: a linear model over engineered text features
    * scored at scan speed (weights are broadcast literals; a real
    * pipeline swaps in trained ones). The keep decision thresholds the
    * LOGIT (z ≥ 0 ⇔ sigmoid ≥ 0.5): z is +,×,/ arithmetic only, so
    * both engines compute bit-identical doubles — no libm exp at the
    * decision boundary. Narrow map + one rollup shuffle. */
  private def l32ModelQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nt = size(toks).cast("double")
    val nstop = size(filter(toks, t => t.isin("the", "a", "of", "and", "to"))).cast("double")
    // greatest(…, 1) guards: an empty/whitespace-only doc has nt = 0 and
    // length 0; without the floor z becomes NaN, which Spark excludes from
    // `z >= 0` while DuckDB sorts NaN above all values — the engines would
    // diverge on n_kept (ADVICE r7). Same guard on both sides.
    val fLen = least(nt / 200.0, lit(1.0))
    val fStop = nstop / greatest(nt, lit(1.0))
    val fPunct = length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double") /
      greatest(length(col("text")).cast("double"), lit(1.0))
    val z = lit(1.2) * fLen + lit(3.0) * fStop - lit(2.5) * fPunct - lit(0.15)
    Engine.t(spark, dir, "documents")
      .withColumn("z", z)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        CH.countIf(col("z") >= 0).as("n_kept"),
        round(min(col("z")), 6).as("z_min"),
        round(max(col("z")), 6).as("z_max"))
      .orderBy("source")
  }

  /** L33: dataset card — the per-source summary a curation pipeline
    * publishes with a release: volume, token mass, language share,
    * exact-dup rate, length envelope. One scan, one rollup shuffle;
    * the dup rate rides the same md5 key as l1. */
  private def l33DatasetCard(spark: SparkSession, dir: String): DataFrame =
    Engine.t(spark, dir, "documents")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(toks)).as("total_tokens"),
        round(CH.countIf(col("lang") === "en") * 100.0 / count(lit(1)), 4).as("pct_en"),
        round(lit(1.0) - count_distinct(md5(col("text"))).cast("double") /
          count(lit(1)).cast("double"), 6).as("dup_rate"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("source")

  /** L35: deterministic token masking — the MLM (BERT-style) label
    * generation step: each position masks iff a hash coin flips under
    * p ≈ 15.6% (first md5 byte < 0x28). Hash-derived, so the SAME
    * tokens mask on every run and every replica — reproducible
    * pretraining batches with no RNG state to ship. Pure narrow map
    * (one higher-order filter per row), no shuffle before the
    * presentation sort. */
  private def l35TokenMasking(spark: SparkSession, dir: String): DataFrame =
    Engine.t(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .withColumn("tk", toks)
      .withColumn("masked",
        expr("filter(sequence(1, size(tk)), i -> " +
          "substring(md5(concat(cast(doc_id as string), ':', cast(i as string))), 1, 2) < '28')"))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_toks"),
        size(col("masked")).as("n_masked"),
        round(size(col("masked")).cast("double") / size(col("tk")).cast("double"), 6).as("mask_rate"),
        expr("array_join(transform(masked, x -> cast(x as string)), ',')").as("mask_csv"))
      .orderBy("doc_id")

  /** L36: dataset version diff — what a lake-versioning layer computes
    * between corpus snapshots: FULL OUTER join on doc id, rows
    * classified added / removed / changed (content hash moved) /
    * unchanged. Snapshots are deterministic slices of `documents`
    * (v2 drops every 7th doc, "edits" every 13th). One shuffle on the
    * id; the md5 comparison prunes to 16-byte keys before the join.
    * At 100 TB this is the audit step before promoting a snapshot. */
  private def l36DatasetDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.t(spark, dir, "documents")
    val v1 = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h1"))
    val v2 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("source").as("source2"),
        md5(when(pmod(col("doc_id"), lit(13)) === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text"))).as("h2"))
    v1.join(v2, Seq("doc_id"), "full")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed"))
      .withColumn("src", coalesce(col("source"), col("source2")))
      .groupBy("src", "status")
      .agg(count(lit(1)).as("n"))
      .orderBy("src", "status")
  }

  val queries: Map[String, Q] = Map(
    "l36_dataset_diff" -> (l36DatasetDiff _),
    "l35_token_masking" -> (l35TokenMasking _),
    "l33_dataset_card" -> (l33DatasetCard _),
    "l32_model_quality_score" -> (l32ModelQualityScore _),
    "l29_temperature_mix" -> (l29TemperatureMix _),
    "l26_curation_pipeline" -> (l26CurationPipeline _),
    "l46_ccnet_buckets" -> (l46CcnetBuckets _),
    "l47_gopher_rules" -> (l47GopherRules _),
    "l48_exact_substr_dedup" -> (l48ExactSubstrDedup _),
    "l49_dedup_chain" -> (l49DedupChain _),
    "l20_decontaminate" -> (l20Decontaminate _),
    "l21_repetition_filter" -> (l21RepetitionFilter _),
    "l22_chunk_dedup" -> (l22ChunkDedup _),
    "l23_unigram_lm_score" -> (l23UnigramLmScore _),
    "l18_neardup_resolve" -> (l18NeardupResolve _),
    "l37_dedup_pipeline" -> (l37DedupPipeline _),
    "l37b_verdict_table" -> (l37bVerdictTable _),
    "l38_train_val_split" -> (l38TrainValSplit _),
    "l38b_split_rollup" -> (l38bSplitRollup _),
    "l38c_split_verdict" -> (l38cSplitVerdict _),
    "l39_intradoc_dedup" -> (l39IntradocDedup _),
    "l43_repeated_spans" -> (l43RepeatedSpans _),
    "l19_corpus_mix" -> (l19CorpusMix _),
    "l14_stratified_sample" -> (l14StratifiedSample _),
    "l15_pattern_scrub" -> (l15PatternScrub _),
    "l16_shard_shuffle" -> (l16ShardShuffle _),
    "l17_sequence_pack" -> (l17SequencePack _))

  /** The demo component graph as a DuckDB recursive-reachability CTE
    * (BFS closure — an INDEPENDENT algorithm confirming the
    * label-propagation fixpoint), shared by the l18/l37b/l38 oracles;
    * ends with `comp(node, keep_id)`. Mirrors [[demoComponents]]. */
  private val demoCompCte: String =
    """WITH RECURSIVE
      |g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |      i -> t[i] || ' ' || t[i+1])) AS grams
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
      |        FROM documents WHERE doc_id < 40)),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM g a, g b WHERE a.doc_id < b.doc_id
      |    AND CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
      |      / CAST(len(a.grams) + len(b.grams)
      |             - len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE) >= 0.08),
      |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |reach(node, lbl) AS (
      |  SELECT doc_id, doc_id FROM g
      |  UNION
      |  SELECT e.a, r.lbl FROM e JOIN reach r ON e.b = r.node),
      |comp AS (SELECT node, min(lbl) AS keep_id FROM reach GROUP BY node)""".stripMargin

  val oracles: Map[String, String] = Map(
    // End-to-end replay of l38c: window rep-collapse, the l4b minhash
    // signature SQL, brute-force band-collision candidates, distinct
    // 3-shingle Jaccard ≥ 0.6 verify, recursive-reachability
    // components (independent of the label-propagation fixpoint), then
    // keeper + md5 coin per doc — 300 rows hash-matched.
    "l38c_split_verdict" ->
      """WITH RECURSIVE
        |base AS (SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), t -> t != '') AS tk
        |  FROM documents WHERE doc_id < 300),
        |rep AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
        |  FROM base),
        |reps AS (SELECT doc_id FROM rep WHERE doc_id = rep_id),
        |sh AS (SELECT b.doc_id, list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sg
        |  FROM base b JOIN reps USING (doc_id) WHERE len(tk) >= 3),
        |u AS (SELECT doc_id, unnest(sg) AS s FROM sh),
        |mh AS (SELECT doc_id, r.range AS i,
        |    min(md5_number_upper(CAST(r.range AS VARCHAR) || ':' || s)) AS m
        |  FROM u, range(16) r GROUP BY 1, 2),
        |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
        |    string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS sig
        |  FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |dg AS (SELECT doc_id, list_distinct(sg) AS g FROM sh),
        |p AS (SELECT c.a, c.b
        |  FROM cand c JOIN dg ga ON ga.doc_id = c.a JOIN dg gb ON gb.doc_id = c.b
        |  WHERE CAST(len(list_filter(ga.g, x -> list_contains(gb.g, x))) AS DOUBLE)
        |      / CAST(len(ga.g) + len(gb.g)
        |             - len(list_filter(ga.g, x -> list_contains(gb.g, x))) AS DOUBLE) >= 0.6),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM reps
        |  UNION
        |  SELECT e.a, r.lbl FROM e JOIN reach r ON e.b = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
        |SELECT r.doc_id AS doc_id, c.lbl AS keep_id,
        |  r.doc_id = c.lbl AS is_keeper,
        |  CASE WHEN substring(md5(CAST(c.lbl AS VARCHAR)), 1, 2) < 'e6'
        |       THEN 'train' ELSE 'val' END AS split
        |FROM rep r JOIN comp c ON c.node = r.rep_id
        |ORDER BY doc_id""".stripMargin,
    "l36_dataset_diff" ->
      """WITH v1 AS (SELECT doc_id, source, md5(text) AS h1
        |  FROM documents WHERE doc_id % 10 != 0),
        |v2 AS (SELECT doc_id, source AS source2,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' edited' ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 7 != 0)
        |SELECT coalesce(v1.source, v2.source2) AS src,
        |  CASE WHEN h1 IS NULL THEN 'added'
        |       WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 = h2 THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  count(*) AS n
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "l35_token_masking" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x != '') AS tk
        |  FROM documents WHERE doc_id < 100),
        |m AS (SELECT doc_id, tk,
        |    list_filter(range(1, len(tk) + 1), i ->
        |      substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2) < '28') AS masked
        |  FROM t)
        |SELECT doc_id, CAST(len(tk) AS INT) AS n_toks,
        |  CAST(len(masked) AS INT) AS n_masked,
        |  round(CAST(len(masked) AS DOUBLE) / CAST(len(tk) AS DOUBLE), 6) AS mask_rate,
        |  coalesce(array_to_string(list_transform(masked, x -> CAST(x AS VARCHAR)), ','), '') AS mask_csv
        |FROM m ORDER BY doc_id""".stripMargin,
    "l33_dataset_card" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split(text, ' '), t -> t != ''))) AS BIGINT) AS total_tokens,
        |  round(count(CASE WHEN lang = 'en' THEN 1 END) * 100.0 / count(*), 4) AS pct_en,
        |  round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "l39_intradoc_dedup" ->
      """WITH d AS (SELECT source,
        |    list_filter(string_split(text, ' '), t -> t != '') AS tk FROM documents),
        |c AS (SELECT source,
        |    CASE WHEN len(tk) // 2 > 0 THEN
        |      list_transform(range(0, CAST(len(tk) // 2 AS INT)),
        |        i -> array_to_string(list_slice(tk, i * 2 + 1, i * 2 + 2), ' '))
        |    ELSE CAST([] AS VARCHAR[]) END AS sp FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(sp)) AS BIGINT) AS n_spans,
        |  CAST(sum(len(sp) - len(list_distinct(sp))) AS BIGINT) AS n_dup_spans,
        |  CAST(sum((len(sp) - len(list_distinct(sp))) * 2) AS BIGINT) AS tokens_removed
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "l32_model_quality_score" ->
      """WITH f AS (SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS DOUBLE) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) AS nstop,
        |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(length(text) AS DOUBLE) AS nchars
        |  FROM documents),
        |z AS (SELECT source,
        |    1.2 * least(nt / 200.0, 1.0) + 3.0 * (nstop / greatest(nt, 1.0))
        |      - 2.5 * (npunct / greatest(nchars, 1.0)) - 0.15 AS z
        |  FROM f)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count(CASE WHEN z >= 0 THEN 1 END) AS BIGINT) AS n_kept,
        |  round(min(z), 6) AS z_min, round(max(z), 6) AS z_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "l29_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT source, n,
        |    1.0 / sqrt(CAST(n AS DOUBLE) / CAST((SELECT sum(n) FROM c) AS DOUBLE)) AS w
        |  FROM c),
        |r AS (SELECT source, w / (SELECT max(w) FROM w) AS r FROM w),
        |u AS (SELECT d.source, r.r,
        |    CAST(list_sum(list_transform(range(1, 5),
        |      i -> (strpos('0123456789abcdef',
        |        substring(md5(CAST(d.doc_id AS VARCHAR)), i, 1)) - 1)
        |        * CAST(power(16, 4 - i) AS BIGINT))) AS BIGINT) AS u
        |  FROM documents d JOIN r ON d.source = r.source)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count(CASE WHEN u < floor(r * 65536) THEN 1 END) AS BIGINT) AS n_kept,
        |  round(min(r), 6) AS target_rate
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // DuckDB's flat `ntile(3) OVER (PARTITION BY lang ...)` pins the
    // groupedNtile decomposition; the ranking key is the exact
    // fixed-point (sum_freq·10⁶) div n_toks on both engines.
    "l46_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
        |  FROM documents),
        |freq AS (SELECT t, count(*) AS f FROM tok GROUP BY 1),
        |per AS (SELECT tok.doc_id, tok.lang, count(*) AS n_toks, sum(freq.f) AS sum_freq
        |  FROM tok JOIN freq ON tok.t = freq.t GROUP BY tok.doc_id, tok.lang),
        |sc AS (SELECT doc_id, lang, n_toks,
        |    CAST((CAST(sum_freq AS HUGEINT) * 1000000) // n_toks AS BIGINT) AS score_fp
        |  FROM per),
        |bk AS (SELECT lang, n_toks, score_fp,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY score_fp DESC, doc_id) AS bkt
        |  FROM sc)
        |SELECT lang,
        |  CASE bkt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  min(score_fp) AS min_score, max(score_fp) AS max_score
        |FROM bk GROUP BY lang, bkt ORDER BY lang, bucket""".stripMargin,
    "l47_gopher_rules" ->
      """WITH tok AS (SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
        |  FROM documents),
        |cnt AS (SELECT doc_id, source, t, count(*) AS c FROM tok GROUP BY 1, 2, 3),
        |per AS (SELECT doc_id, source,
        |    CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * length(t)) AS BIGINT) AS chars,
        |    CAST(sum(CASE WHEN regexp_matches(t, '[a-z]') THEN c ELSE 0 END) AS BIGINT) AS n_alpha,
        |    count(CASE WHEN t IN ('the','be','to','of','and','that','have','with') THEN 1 END) AS n_stop_distinct
        |  FROM cnt GROUP BY 1, 2),
        |g AS (SELECT source,
        |    (n BETWEEN 50 AND 100000) AS r_words,
        |    (3 * n <= chars AND chars <= 10 * n) AS r_wordlen,
        |    (5 * n_alpha >= 4 * n) AS r_alpha,
        |    (n_stop_distinct >= 2) AS r_stop
        |  FROM per)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count(CASE WHEN NOT r_words THEN 1 END) AS BIGINT) AS fail_words,
        |  CAST(count(CASE WHEN NOT r_wordlen THEN 1 END) AS BIGINT) AS fail_wordlen,
        |  CAST(count(CASE WHEN NOT r_alpha THEN 1 END) AS BIGINT) AS fail_alpha,
        |  CAST(count(CASE WHEN NOT r_stop THEN 1 END) AS BIGINT) AS fail_stop,
        |  CAST(count(CASE WHEN r_words AND r_wordlen AND r_alpha AND r_stop THEN 1 END) AS BIGINT) AS n_pass
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "l26_curation_pipeline" ->
      """WITH tok AS (SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
        |  FROM documents),
        |cnt AS (SELECT doc_id, source, t, count(*) AS c FROM tok GROUP BY 1, 2, 3),
        |per AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n, count(*) AS nd,
        |    CAST(max(c) AS BIGINT) AS topc,
        |    CAST(sum(CASE WHEN t IN ('the','a','of','and','to') THEN c ELSE 0 END) AS BIGINT) AS nstop
        |  FROM cnt GROUP BY 1, 2),
        |g AS (SELECT source,
        |    (n BETWEEN 30 AND 5000) AS g_len,
        |    ((n - nd) * 100 <= n * 55 AND topc * 100 <= n * 12) AS g_rep,
        |    (nstop * 100 >= n * 5) AS g_stop
        |  FROM per)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count(CASE WHEN g_len THEN 1 END) AS BIGINT) AS pass_len,
        |  CAST(count(CASE WHEN g_len AND g_rep THEN 1 END) AS BIGINT) AS pass_len_rep,
        |  CAST(count(CASE WHEN g_len AND g_rep AND g_stop THEN 1 END) AS BIGINT) AS n_kept
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "l20_decontaminate" ->
      """WITH tok AS (SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(t) - 3, 0) + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
        |  FROM tok),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
        |hit AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram) WHERE g.doc_id >= 20)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
        |  round(CAST(count(h.doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS contamination_rate
        |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
        |WHERE d.doc_id >= 20 GROUP BY d.source ORDER BY d.source""".stripMargin,
    "l21_repetition_filter" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
        |  FROM documents WHERE doc_id < 200),
        |cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks, count(*) AS n_distinct,
        |         CAST(max(c) AS BIGINT) AS top_count FROM cnt GROUP BY 1)
        |SELECT doc_id, n_toks, n_distinct, top_count,
        |  round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) AS dup_ratio,
        |  round(CAST(top_count AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) AS top_frac,
        |  (1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_toks AS DOUBLE)) <= 0.52
        |    AND CAST(top_count AS DOUBLE) / CAST(n_toks AS DOUBLE) <= 0.10 AS quality_pass
        |FROM per ORDER BY doc_id""".stripMargin,
    // l43: the oracle groups by the gram STRING (no hashing at all) —
    // an independent path that also certifies the 64-bit-hash dup set
    "l43_repeated_spans" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents),
        |d AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_toks FROM tok WHERE len(t) >= 6),
        |g AS (SELECT doc_id, n_toks, u.i AS pos, array_to_string(t[u.i:u.i+5], ' ') AS gram
        |      FROM d, LATERAL unnest(range(1, CAST(n_toks AS INT) - 6 + 2)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT g.doc_id, g.n_toks, g.pos FROM g JOIN dup USING (gram)),
        |brk AS (SELECT doc_id, n_toks, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 6
        |              THEN 0 ELSE 1 END AS b
        |        FROM hit),
        |isl AS (SELECT doc_id, n_toks, pos,
        |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM brk),
        |sp AS (SELECT doc_id, n_toks, island, min(pos) AS s, max(pos) + 5 AS e
        |       FROM isl GROUP BY 1, 2, 3)
        |SELECT doc_id, count(*) AS n_dup_spans, CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |  n_toks, round(CAST(sum(e - s + 1) AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) AS dup_ratio
        |FROM sp GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin,
    // Full-chain replay of l49: rep-collapse window, the l48
    // chunk/rebuild SQL over reps, shingles of the REBUILT text, the
    // l38c md5_number_upper signature + brute candidate + verify +
    // recursive-reachability stack, verdict inherited per doc.
    "l49_dedup_chain" ->
      """WITH RECURSIVE
        |base AS (SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x != '') AS tk
        |  FROM documents WHERE doc_id < 300),
        |rep AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
        |  FROM base),
        |reps AS (SELECT doc_id FROM rep WHERE doc_id = rep_id),
        |ch AS (SELECT b.doc_id,
        |    unnest(range(0, CAST(floor(len(tk) / 8) AS INT))) AS idx,
        |    unnest(list_transform(range(0, CAST(floor(len(tk) / 8) AS INT)),
        |      i -> array_to_string(tk[i*8+1:i*8+8], ' '))) AS chunk
        |  FROM base b JOIN reps USING (doc_id)),
        |k AS (SELECT doc_id, idx, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
        |  FROM ch),
        |r AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS kept_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id),
        |rt AS (SELECT reps.doc_id,
        |    list_filter(string_split(coalesce(kept_text, ''), ' '), x -> x != '') AS kt
        |  FROM reps LEFT JOIN r ON reps.doc_id = r.doc_id),
        |sh AS (SELECT doc_id, list_transform(range(1, len(kt) - 1),
        |    i -> kt[i] || ' ' || kt[i+1] || ' ' || kt[i+2]) AS sg
        |  FROM rt WHERE len(kt) >= 3),
        |u AS (SELECT doc_id, unnest(sg) AS s FROM sh),
        |mh AS (SELECT doc_id, r.range AS i,
        |    min(md5_number_upper(CAST(r.range AS VARCHAR) || ':' || s)) AS m
        |  FROM u, range(16) r GROUP BY 1, 2),
        |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
        |    string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS sig
        |  FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |dg AS (SELECT doc_id, list_distinct(sg) AS g FROM sh),
        |p AS (SELECT c.a, c.b
        |  FROM cand c JOIN dg ga ON ga.doc_id = c.a JOIN dg gb ON gb.doc_id = c.b
        |  WHERE CAST(len(list_filter(ga.g, x -> list_contains(gb.g, x))) AS DOUBLE)
        |      / CAST(len(ga.g) + len(gb.g)
        |             - len(list_filter(ga.g, x -> list_contains(gb.g, x))) AS DOUBLE) >= 0.6),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM reps
        |  UNION
        |  SELECT e.a, r2.lbl FROM e JOIN reach r2 ON e.b = r2.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
        |SELECT rp.doc_id AS doc_id, rp.rep_id AS rep_id, c.lbl AS keep_id,
        |  rp.doc_id = c.lbl AS is_keeper
        |FROM rep rp JOIN comp c ON c.node = rp.rep_id
        |ORDER BY doc_id""".stripMargin,
    "l48_exact_substr_dedup" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents),
        |ch AS (SELECT doc_id,
        |    unnest(range(0, CAST(floor(len(t) / 8) AS INT))) AS idx,
        |    unnest(list_transform(range(0, CAST(floor(len(t) / 8) AS INT)),
        |      i -> array_to_string(t[i*8+1:i*8+8], ' '))) AS chunk
        |  FROM tok),
        |k AS (SELECT doc_id, idx, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
        |  FROM ch),
        |r AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY idx) AS kept_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |    CAST(floor(len(list_filter(string_split(text, ' '), x -> x != '')) / 8) AS BIGINT) AS n_chunks
        |  FROM documents)
        |SELECT base.doc_id, n_chunks, coalesce(n_kept, 0) AS n_kept,
        |  CASE WHEN n_chunks > 0
        |    THEN round(CAST(coalesce(n_kept, 0) AS DOUBLE) / CAST(n_chunks AS DOUBLE), 6)
        |  END AS retained_ratio,
        |  coalesce(kept_text, '') AS kept_text
        |FROM base LEFT JOIN r ON base.doc_id = r.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    "l22_chunk_dedup" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(list_transform(range(0, CAST(floor(len(t) / 8) AS INT)),
        |    i -> array_to_string(t[i*8+1:i*8+8], ' '))) AS chunk
        |  FROM tok),
        |bc AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ FROM ch GROUP BY 1),
        |dup AS (SELECT * FROM bc WHERE n_docs > 1),
        |dwd AS (SELECT DISTINCT ch.doc_id FROM ch JOIN dup ON ch.chunk = dup.chunk)
        |SELECT (SELECT count(*) FROM bc) AS n_chunks_distinct,
        |  (SELECT count(*) FROM dup) AS n_dup_chunks,
        |  (SELECT CAST(sum(n_occ) AS BIGINT) FROM dup) AS n_dup_occurrences,
        |  (SELECT count(*) FROM dwd) AS n_docs_with_dup""".stripMargin,
    "l23_unigram_lm_score" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
        |  FROM documents),
        |freq AS (SELECT t, count(*) AS f FROM tok GROUP BY 1)
        |SELECT tok.doc_id, count(*) AS n_toks, CAST(sum(freq.f) AS BIGINT) AS sum_freq,
        |  round(CAST(sum(freq.f) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_token_freq
        |FROM tok JOIN freq ON tok.t = freq.t
        |WHERE tok.doc_id < 100 GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,
    // components via recursive reachability — an INDEPENDENT algorithm
    // (BFS closure) confirming the label-propagation fixpoint
    "l18_neardup_resolve" ->
      s"""$demoCompCte
        |SELECT keep_id, count(*) AS n_members
        |FROM comp GROUP BY keep_id ORDER BY keep_id""".stripMargin,
    // l37b/l38: the same recursive-CTE components, replayed to the
    // per-doc verdict table and the full md5-coin split assignment
    "l37b_verdict_table" ->
      s"""$demoCompCte
        |SELECT d.doc_id, d.source, c.keep_id, d.doc_id = c.keep_id AS is_keeper
        |FROM documents d JOIN comp c ON d.doc_id = c.node
        |WHERE d.doc_id < 40 ORDER BY d.doc_id""".stripMargin,
    "l38_train_val_split" ->
      s"""$demoCompCte
        |SELECT d.doc_id, d.source, c.keep_id,
        |  CASE WHEN substr(md5(CAST(c.keep_id AS VARCHAR)), 1, 2) < 'e6'
        |       THEN 'train' ELSE 'val' END AS split
        |FROM documents d JOIN comp c ON d.doc_id = c.node
        |WHERE d.doc_id < 40 ORDER BY d.doc_id""".stripMargin,
    "l19_corpus_mix" ->
      """WITH r AS (
        |  SELECT source,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents)
        |SELECT source, count(*) AS n_total,
        |  count(CASE WHEN rk <= (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
        |                         THEN 10 ELSE 18 END) THEN 1 END) AS n_kept
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "l14_stratified_sample" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(count(*) FILTER (WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |       < CASE WHEN lang = 'en' THEN '20' ELSE '80' END) AS BIGINT) AS n_kept,
        |  round(CAST(count(*) FILTER (WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |       < CASE WHEN lang = 'en' THEN '20' ELSE '80' END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS keep_rate
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "l15_pattern_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|order)\b', 0)) AS INT) AS n_redacted,
        |  CAST(length(regexp_replace(text, '\b(customer|order)\b', '<ENT>', 'g')) AS INT) AS len_scrubbed,
        |  CAST(length(text) AS INT) AS len_raw
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "l16_shard_shuffle" ->
      """SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    "l17_sequence_pack" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_toks,
        |    sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT lang,
        |  CAST(floor(CAST(cum - n_toks AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin)
}
