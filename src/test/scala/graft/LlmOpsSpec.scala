package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{LlmPipeline, LlmText, LlmVector, Multimodal, Storage}

/** Behavioral checks for the no-oracle LLM ops: LSH finds planted
  * near-dups, fingerprints are stable and similarity-sensitive, IVF
  * ANN returns structurally valid results, the multimodal stub decode
  * matches an independent computation, obfuscation preserves
  * cardinality and nulls. Runs on sf0.001 + literal frames. */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("LSH candidate generation collides planted near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the patient cat watches " +
      "from the tall fence and the birds sing their morning songs in the garden until done"
    val nearDup = base.replace("done", "finished") // one token of 31 differs → J≈0.9
    val far = "completely different words appear here with nothing shared at all whatsoever " +
      "because this text talks about ships sailing across wide oceans under heavy storms"
    val docs = Seq((1L, base), (2L, nearDup), (3L, far)).toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents_plant")
    // run the same pipeline as lshCandidates against the planted docs
    val staged = "/tmp/graft_io/test_lsh"
    docs.select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    val cands = LlmText.lshCandidates(spark, staged).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), s"near-dup pair not found in $cands")
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
  }

  test("l37 dedup pipeline collapses a planted near-dup group to one keeper") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the patient cat watches " +
      "from the tall fence and the birds sing their morning songs in the garden until done"
    val dup1 = base.replace("done", "finished")
    val dup2 = base.replace("quick", "swift")
    val far1 = "completely different words appear here with nothing shared at all whatsoever " +
      "because this text talks about ships sailing across wide oceans under heavy storms"
    val far2 = "another unrelated paragraph describes mountain climbers reaching distant peaks " +
      "carrying heavy ropes and tents through snow drifts toward the summit before dawn"
    val staged = "/tmp/graft_io/test_dedup_pipeline"
    Seq((1L, base), (2L, dup1), (3L, dup2), (4L, far1), (5L, far2))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    val v = LlmPipeline.dedupVerdicts(spark, staged).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // the 3-doc near-dup group elects min doc_id 1; members 2 and 3 drop
    assert(v(1L) == ((1L, true)), s"verdicts: $v")
    assert(v(2L) == ((1L, false)) && v(3L) == ((1L, false)), s"verdicts: $v")
    // unrelated docs survive as their own keepers
    assert(v(4L) == ((4L, true)) && v(5L) == ((5L, true)), s"verdicts: $v")
    // l38: every member of the near-dup group lands in the SAME split
    val splits = LlmPipeline.splitAssignments(spark, staged).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(splits(1L) == splits(2L) && splits(2L) == splits(3L),
      s"near-dup group must be co-assigned, got $splits")
  }

  test("l49 chain: exact copies collapse, chunk-covered docs empty out, offset near-dups link") {
    import spark.implicits._
    // 80 distinct tokens → every 8-token chunk is globally unique
    val words = (1 to 80).map(i => s"tok$i")
    val a = words.mkString(" ")
    val exactCopy = a
    // one-token OFFSET defeats fixed non-overlapping chunking (no
    // exact chunk match survives to stage 1) but keeps ~97% 3-shingle
    // overlap — exactly the case the near-dup stage must catch AFTER
    // substring removal (Lee et al.'s reason for running both)
    val offset = ("intro " + a).split(" ").mkString(" ")
    // all 10 chunks duplicate doc 1's chunks (reordered) → stage 1
    // strips everything; the doc must end a SINGLETON, not linked
    val reordered = words.grouped(8).toSeq.reverse.map(_.mkString(" ")).mkString(" ")
    val far = (1 to 80).map(i => s"other$i").mkString(" ")
    val staged = "/tmp/graft_io/test_l49"
    Seq((1L, a), (2L, exactCopy), (3L, offset), (4L, reordered), (5L, far))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    val v = SparkEntry.queries("l49_dedup_chain")(spark, staged).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(v(1L) == ((1L, 1L, true)), s"verdicts: $v")
    assert(v(2L) == ((1L, 1L, false)), s"exact copy must inherit doc 1's verdict: $v")
    assert(v(3L) == ((3L, 1L, false)), s"offset near-dup must link to doc 1: $v")
    assert(v(4L) == ((4L, 4L, true)),
      s"chunk-covered doc is fully substring-deduped, not near-dup-linked: $v")
    assert(v(5L) == ((5L, 5L, true)), s"unrelated doc keeps itself: $v")
  }

  test("l16 shard key is uniform across shards and independent of ingest order") {
    import spark.implicits._
    // chi-square uniformity over 16 shards on 32k sequential ids
    // (deterministic data → deterministic statistic, no flake): df = 15,
    // 99.9% critical value ≈ 37.7 — bound at 40
    val n = 32000
    val counts = spark.range(0, n)
      .select(LlmPipeline.shardKey(col("id")).as("shard"))
      .groupBy("shard").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.size == 16, s"all 16 shards populated: ${counts.keys.toSeq.sorted}")
    val exp = n / 16.0
    val chi2 = counts.values.map(c => (c - exp) * (c - exp) / exp).sum
    assert(chi2 < 40.0, s"chi-square $chi2 over 16 shards, counts: $counts")
    // ingest-order independence: the same ids arriving in reverse order
    // through a different partitioning land on identical shards
    val fwd = spark.range(0, 500).repartition(4)
      .select(col("id"), LlmPipeline.shardKey(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rev = spark.range(0, 500).sort(col("id").desc).repartition(7)
      .select(col("id"), LlmPipeline.shardKey(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fwd == rev, "shard assignment must be a pure function of the id")
  }

  test("mm5 perceptual-hash banding collides a near-identical payload, not unrelated media") {
    import spark.implicits._
    // bimodal bytes (97 vs 122) keep every grid sample far from the
    // mean, so a single-byte edit flips at most its own bit — the
    // regime a real luma aHash operates in
    val base = "aaaazzzz" * 20                 // 160 bytes
    val near = base.updated(85, 'a')           // one byte, same length (85 = a sampled 'z' cell)
    val far = "zzzzaaaa" * 20                  // opposite phase → complementary hash
    val staged = "/tmp/graft_io/test_phash"
    Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    val pairs = Multimodal.phashPairs(spark, staged)
      .filter(col("hd") <= 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((1L, 2L)), s"near-identical payload pair not found in $pairs")
    assert(pairs((1L, 2L)) <= 3)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated payload survived the verify: $pairs")
  }

  test("SimHash banding collides planted near-duplicates, not unrelated text") {
    import spark.implicits._
    // Long documents (sentence ×8): per-bit vote margins are multiples
    // of 8, so a single-token edit (±2 per bit) cannot flip bits —
    // SimHash's length-sensitivity is why Hamming≤3 works on real docs
    // but not on one-sentence snippets.
    val sentence = "the quick brown fox jumps over the lazy dog while the patient cat watches " +
      "from the tall fence and the birds sing their morning songs in the garden until done "
    val base = sentence * 8
    val nearDup = (sentence * 7) + sentence.replace("done", "finished")
    val far = ("completely different words appear here with nothing shared at all whatsoever " +
      "because this text talks about ships sailing across wide oceans under heavy storms ") * 8
    val staged = "/tmp/graft_io/test_simhash"
    Seq((1L, base), (2L, nearDup), (3L, far)).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    val pairs = LlmText.simhashPairs(spark, staged).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair not found in $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("l13 collapsed-signature aggregate equals the pair-enumerating form at two scales") {
    // the declared l13 collapses identical signatures and recovers the
    // doc-pair count arithmetically (quadratic-copy fix, as for l37);
    // pin it against aggregating the enumerated simhashPairs — on the
    // real corpus AND on the planted dir, where doc 1/2 collide
    for (dir <- Seq(sf, "/tmp/graft_io/test_simhash")) {
      val fromPairs = LlmText.simhashPairs(spark, dir)
        .agg(count(lit(1)).as("n_neardup_pairs"),
          coalesce(max(col("hamming")), lit(-1)).as("max_hamming"))
        .collect().head
      val collapsed = LlmText.queries("l13_simhash_neardup")(spark, dir)
        .collect().head
      assert(collapsed.getAs[Long]("n_neardup_pairs") == fromPairs.getAs[Long]("n_neardup_pairs"),
        s"$dir: pair count diverged: collapsed=$collapsed enumerated=$fromPairs")
      assert(collapsed.getAs[Int]("max_hamming") == fromPairs.getAs[Int]("max_hamming"),
        s"$dir: max hamming diverged: collapsed=$collapsed enumerated=$fromPairs")
    }
  }

  test("simhash64 kernel: interpreted eval equals codegen'd eval and is order-insensitive") {
    import spark.implicits._
    def run(): Map[Long, Long] =
      Seq((1L, "alpha beta gamma delta epsilon"), (2L, "epsilon delta gamma beta alpha"))
        .toDF("id", "text")
        .select(col("id"), expr("simhash64(filter(split(text, ' '), t -> t != ''))").as("sh"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val codegen = run()
    // Force the interpreted nullSafeEval branch (ADVICE r3: both legs
    // previously ran the codegen path) and compare bit-for-bit.
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevWhole = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = run()
      assert(interpreted == codegen)
    } finally {
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      spark.conf.set("spark.sql.codegen.wholeStage", prevWhole)
    }
    // token order must not matter (bag-of-tokens votes)
    assert(codegen(1L) == codegen(2L))
  }

  test("fingerprints are deterministic and identical for identical text") {
    val fp1 = LlmText.fingerprints(spark, sf).collect()
    val fp2 = LlmText.fingerprints(spark, sf).collect()
    assert(fp1.sameElements(fp2))
  }

  test("kernel simhash16 equals the definitional 16-vote fold") {
    // l9 ships the low 16 bits of the codegen'd simhash64 kernel;
    // this pins it to the definitional form (16 HOF vote folds over
    // xxhash64(token), bit set iff vote > 0) on every sf0.001 doc.
    val kernel = LlmText.fingerprints(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash16")).toMap
    val defn = LlmText.simhash16Definitional(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash16")).toMap
    assert(kernel == defn)
  }

  test("IVF ANN is exact within its probed buckets") {
    // The data-independent IVF invariant: restricted to the probed
    // coarse buckets, IVF results equal an independently computed
    // exact top-3. (Absolute recall vs unrestricted brute force is a
    // property of the DATA — these embeddings are isotropic, so any
    // coarse quantizer sits near probes/buckets; see LlmVector docs.)
    val probed = LlmVector.ivfProbes(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id")).view
      .mapValues(_.map(_.getAs[Int]("c_label")).toSet).toMap
    val all = Engine.t(spark, sf, "embeddings").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = all.map(v => v._1 -> v).toMap
    val expected = probed.toSeq.flatMap { case (q, labels) =>
      val qv = byId(q)._3
      all.filter(v => v._1 != q && labels(v._2))
        .map(v => (cos(qv, v._3), v._1))
        .sortBy { case (c, id) => (-c, id) }
        .take(3).map(_._2).map(id => (q, id))
    }.toSet
    val ivf = LlmVector.l12AnnIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf == expected, s"ivf=$ivf expected=$expected")
  }

  test("hyperplane LSH ANN is exact within its probed buckets") {
    // Same data-independent invariant as IVF: restricted to the probed
    // buckets (own + Hamming-1 multiprobe), L24 equals an independently
    // computed exact top-3 using the SAME bucket expression.
    import org.apache.spark.sql.functions.col
    val probed = LlmVector.hyperProbes(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id")).view
      .mapValues(_.map(_.getAs[Int]("p_bucket")).toSet).toMap
    val bucketed = Engine.t(spark, sf, "embeddings")
      .withColumn("bucket", LlmVector.hyperBucket(col("embedding"))).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("bucket"),
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = bucketed.map(v => v._1 -> v).toMap
    val expected = probed.toSeq.flatMap { case (q, buckets) =>
      val qv = byId(q)._3
      bucketed.filter(v => v._1 != q && buckets(v._2))
        .map(v => (cos(qv, v._3), v._1))
        .sortBy { case (c, id) => (-c, id) }
        .take(3).map(_._2).map(id => (q, id))
    }.toSet
    val lsh = LlmVector.l24AnnHyperplane(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(lsh == expected, s"lsh=$lsh expected=$expected")
    // multiprobe must actually widen the candidate set beyond 1 bucket
    assert(probed.values.forall(_.size == 7))
  }

  test("IVF ANN results are valid neighbors with descending scores") {
    val rows = LlmVector.l12AnnIvf(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      val scores = byRank.map(_.getDouble(3))
      assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b })
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length))
    }
  }

  test("resize stub grid-samples bytes; frame sampler strides frames") {
    val r = Multimodal.MediaRow(1L, (0 until 32).map(_.toByte).toArray, 8, 4)
    val t = Multimodal.fakeResize(r) // thumb(j) = payload(j*32/16) = payload(2j)
    assert(t.thumb.toSeq == (0 until 16).map(_ * 2))
    val frames = Multimodal.fakeFrameSample(r).toSeq // 4 frames of 8 bytes, step 1
    assert(frames.map(_.frame_idx) == Seq(0, 1, 2, 3))
    assert(frames.head.frame_mean == (0 until 8).sum.toDouble / 8)
    assert(frames.last.frame_mean == (24 until 32).sum.toDouble / 8)
  }

  test("multimodal stub decode matches independent byte statistics") {
    val r = Multimodal.MediaRow(7L, "abc".getBytes("UTF-8"), 3, 4)
    val f = graft.ops.Multimodal.fakeDecode(r)
    assert(f.n_bytes == 3 && f.max_byte == 'c'.toInt)
    assert(math.abs(f.mean_byte - (97 + 98 + 99) / 3.0) < 1e-12)
  }

  test("obfuscator preserves nulls and cardinality") {
    import spark.implicits._
    val df = Seq(Some("x"), Some("y"), Some("x"), None).toDF("c")
    val ob = Storage.obfuscate(df, Seq("c"))
    val vals = ob.collect().map(r => Option(r.getString(0)))
    assert(vals.count(_.isEmpty) == 1)
    assert(vals.flatten.distinct.length == 2)
    // same input → same token (deterministic)
    val obVals = ob.collect().map(r => Option(r.getString(0)))
    assert(vals.sameElements(obVals))
    // and the token differs from the original value
    assert(vals.flatten.forall(v => v != "x" && v != "y"))
  }

  test("exact dedup is idempotent") {
    import spark.implicits._
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val dedup1 = docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keep"))
    assert(dedup1.count() == 2)
    val kept = docs.join(dedup1, docs("doc_id") === dedup1("keep"), "left_semi")
    val dedup2 = kept.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keep"))
    assert(dedup2.count() == 2) // second pass removes nothing
  }

  test("l17 hierarchical prefix sum equals the flat single-window form") {
    // The scale path (chunk-local window + broadcast chunk offsets)
    // must produce the identical packing as the textbook flat window
    // the DuckDB oracle uses — assert that in-engine too, over the
    // real table, so a regression in the decomposition can't hide
    // behind a passing sf0.01 oracle row count.
    import org.apache.spark.sql.expressions.Window
    val hier = SparkEntry.queries("l17_sequence_pack")(spark, sf).collect().toSeq
    val toks = size(filter(split(col("text"), " "), t => t =!= "")).cast("long")
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flat = Engine.t(spark, sf, "documents")
      .select(col("lang"), col("doc_id"), toks.as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("n_toks")).cast("double") / lit(2048.0)))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("pack_tokens"))
      .orderBy("lang", "pack_id")
      .collect().toSeq
    assert(hier.nonEmpty && hier == flat)
  }

  test("l40 k-means recovers planted separated blobs; WCSS is non-increasing") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 8
    // 3 well-separated gaussian-ish blobs, 40 points each, axis centers 10·e_b
    val rows = for (b <- 0 until 3; i <- 0 until 40) yield {
      val v = Array.tabulate(dim)(d =>
        (if (d == b) 10f else 0f) + (rnd.nextFloat() - 0.5f))
      (b.toLong * 1000 + i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (cents, wcss) = LlmVector.kmeansFit(df, 3, 5)
    assert(cents.length == 3)
    assert(wcss.zip(wcss.tail).forall { case (a, b) => b <= a * (1 + 1e-9) },
      s"WCSS must be non-increasing: $wcss")
    // every planted blob lands wholly in one distinct cluster
    val purity = LlmVector.kmeansAssign(df, cents)
      .groupBy((col("vec_id") / 1000).cast("int").as("blob"), col("cluster"))
      .count().collect()
    assert(purity.length == 3, s"blob→cluster map not pure: ${purity.mkString(",")}")
    assert(purity.map(_.getInt(1)).distinct.length == 3, "clusters must be distinct")
    // each centroid sits at its blob center (within the ±0.5 jitter)
    assert(cents.forall(c => c.max > 9.0 && c.count(_ > 1.0) == 1))
  }

  test("kmeansFit large-k hash-sample init (r20): distinct seeds, WCSS non-increasing, k follows n") {
    // The k ≤ 64 clamp this path replaced was l44's sf100 scale cliff
    // (frozen cluster size → quadratic pair stage); past k=64 the init
    // seeds from the first k DISTINCT hash-ordered sample points
    // instead of the O(k²·sample) maximin scan.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 8
    val rows = (0 until 600).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 10f))
    } :+ (600L, Array.fill(dim)(0f)) :+ (601L, Array.fill(dim)(0f)) // dup content
    val df = rows.toDF("vec_id", "embedding")
    val (cents, wcss) = LlmVector.kmeansFit(df, 100, 3)
    assert(cents.length == 100, s"expected 100 seeds, got ${cents.length}")
    // no duplicate seeds even with duplicate content in the sample
    assert(cents.map(_.toSeq).distinct.length == cents.length)
    assert(wcss.zip(wcss.tail).forall { case (a, b) => b <= a * (1 + 1e-9) },
      s"WCSS must be non-increasing: $wcss")
    // assignments use every broadcast centroid slot validly
    val cl = LlmVector.kmeansAssign(df, cents).select("cluster").distinct().collect()
      .map(_.getInt(0))
    assert(cl.forall(c => c >= 0 && c < 100))
    // a corpus smaller than k seeds only the distinct points available
    val tiny = rows.take(10).toDF("vec_id", "embedding")
    val (tc, _) = LlmVector.kmeansFit(tiny, 100, 1)
    assert(tc.length == 10)
  }

  test("l4/mm5 multiplicity-weighted counts equal rep-less enumeration under replication") {
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog while the patient cat watches " +
        "from the tall fence and the birds sing their morning songs in the garden until done",
      "the quick brown fox jumps over the lazy dog while the patient cat watches " +
        "from the tall fence and the birds sing their morning songs in the garden until finished",
      "completely different words appear here with nothing shared at all whatsoever " +
        "because this text talks about ships sailing across wide oceans under heavy storms")
    // 5 exact copies of each doc with shifted ids — the sf-replica shape
    val docs = (for (r <- 0 until 5; (t, i) <- base.zipWithIndex)
      yield (r.toLong * 100 + i, t)).toDF("doc_id", "text")
    val staged = "/tmp/graft_io/test_l4_weighted"
    docs.select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")

    // l4: closed-form count vs the still-enumerating demo kernel
    val weighted = LlmText.queries("l4_minhash_lsh")(spark, staged).collect().head
    val brute = LlmText.lshCandidates(spark, staged).count()
    assert(weighted.getLong(0) == 15L, s"n_docs: $weighted")
    assert(weighted.getLong(1) == brute,
      s"l4 weighted=${weighted.getLong(1)} != enumerated=$brute")

    // mm5: all three funnel stats vs brute-force aggregation of the
    // enumerating phashPairs kernel
    val mm5 = Multimodal.queries("mm5_phash_neardup")(spark, staged).collect().head
    val pairs = Multimodal.phashPairs(spark, staged)
      .agg(count(lit(1)), sum(when(col("hd") <= 3, 1L).otherwise(0L)),
        coalesce(min(col("hd")), lit(-1L)))
      .collect().head
    assert(mm5.getLong(0) == pairs.getLong(0), s"candidates: $mm5 vs $pairs")
    assert(mm5.getLong(1) == pairs.getLong(1), s"neardups: $mm5 vs $pairs")
    assert(mm5.getInt(2) == pairs.getLong(2).toInt, s"min_hamming: $mm5 vs $pairs")
    assert(mm5.getInt(2) == 0, "exact copies must pin min_hamming to 0")
  }

  test("l44 semantic dedup collapses the planted near-copies and keeps the naturals") {
    val out = LlmVector.queries("l44_semantic_dedup")(spark, sf).collect()
    val n = out.map(_.getAs[Long]("n")).sum
    val nDup = out.map(_.getAs[Long]("n_dup")).sum
    val nKept = out.map(_.getAs[Long]("n_kept")).sum
    assert(n == nDup + nKept, "dup/kept must partition every cluster")
    assert(n == 560, s"corpus = 500 naturals + 60 planted, got $n")
    // no natural pair reaches τ=0.9 (max within-corpus cos ≈ 0.49), so
    // only planted copies can collapse; a copy survives only if k-means
    // separated it from its source (floor, not equality, so a
    // centroid-boundary case can't flake the suite — the run is
    // deterministic, the floor just documents the tolerance)
    assert(nDup <= 60, s"$nDup > 60 collapsed — a natural was marked dup")
    assert(nDup >= 55, s"only $nDup/60 planted copies collapsed")
    val v = LlmVector.queries("l44b_semdedup_verdict")(spark, sf).collect()
    assert(v.map(_.getAs[Long]("n")).sum == 460, "400 naturals + 60 planted")
    assert(v.map(_.getAs[Long]("n_dup")).sum == 60,
      "label buckets always unite copy and source: all 60 collapse")
    v.foreach(r => assert(r.getAs[Double]("max_cos6") >= 0.9,
      s"label ${r.getAs[Int]("label")} lost its planted high-cos pair"))
  }

  test("l43 merges repeated-span islands: overlap and exact adjacency fuse, gaps split") {
    import spark.implicits._
    def span(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val sA = span("s", 10) // shared 10-token run A (docs 1, 2, 4, 5)
    val sB = span("t", 10) // shared 10-token run B (docs 4, 5)
    val docs = Seq(
      (1L, sA + " " + span("f", 4)),                       // A at pos 1..10
      (2L, span("g", 2) + " " + sA + " " + span("g2x", 2)), // A at pos 3..12
      (3L, span("h", 14)),                                  // nothing shared
      (4L, sA + " " + span("w", 8) + " " + sB),             // A, 8-token gap, B
      (5L, sA + " " + sB)                                   // A and B ADJACENT
    ).toDF("doc_id", "text")
    val staged = "/tmp/graft_io/test_l43"
    docs.select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    val rows = LlmPipeline.queries("l43_repeated_spans")(spark, staged).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // W=6 ⇒ only grams fully inside a shared run are duplicated; the
    // island merge must recover the FULL run (hits at p..p+4 union to
    // [p, p+9]). Doc 4's two runs are 8 tokens apart (gap > W ⇒ two
    // spans); doc 5's are exactly adjacent (pos diff == W ⇒ one span
    // covering both). Doc 3 has no duplicated gram ⇒ no output row.
    val r714 = math.rint(10.0 / 14.0 * 1e6) / 1e6
    assert(rows.toSeq == Seq(
      (1L, 1L, 10L, 14L, r714),
      (2L, 1L, 10L, 14L, r714),
      (4L, 2L, 20L, 28L, math.rint(20.0 / 28.0 * 1e6) / 1e6),
      (5L, 1L, 20L, 20L, 1.0)), s"got: ${rows.toSeq}")
  }

  test("l43 equals a brute-force reference over randomized planted corpora") {
    import spark.implicits._
    val W = 6
    // Independent algorithm: hash maps + a linear island scan (no
    // windows, no joins) — certifies the relational rendering.
    def reference(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Double)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }
      val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
      for ((id, t) <- toks; p <- 0 to t.length - W)
        gramDocs.getOrElseUpdate(t.slice(p, p + W).mkString(" "),
          scala.collection.mutable.Set.empty) += id
      val dup = gramDocs.collect { case (g, ds) if ds.size >= 2 => g }.toSet
      toks.flatMap { case (id, t) =>
        val hits = (0 to t.length - W).filter(p => dup(t.slice(p, p + W).mkString(" ")))
        if (hits.isEmpty) None
        else {
          // split where the gap between successive starts exceeds W
          val islands = hits.tail.foldLeft(List(List(hits.head))) { (acc, p) =>
            if (p - acc.head.head <= W) (p :: acc.head) :: acc.tail else List(p) :: acc
          }
          val spans = islands.map(is => (is.min, is.max + W - 1))
          val dupTok = spans.map { case (s, e) => e - s + 1 }.sum
          Some((id, islands.size.toLong, dupTok.toLong, t.length.toLong,
            math.rint(dupTok.toDouble / t.length * 1e6) / 1e6))
        }
      }.sortBy(_._1)
    }
    for (seed <- 1 to 8) {
      val rnd = new java.util.Random(seed)
      val vocab = (0 until 8).map("v" + _)
      def randToks(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      // planted spans long enough to guarantee interior W-grams
      val spans = Seq.fill(3)(randToks(6 + rnd.nextInt(10)))
      val docs = (0 until 30).map { id =>
        var t = randToks(10 + rnd.nextInt(31))
        for (sp <- spans if rnd.nextInt(10) < 3) { // ~30% of docs carry each span
          val at = rnd.nextInt(t.length + 1)
          t = t.take(at) ++ sp ++ t.drop(at)
        }
        (id.toLong, t.mkString(" "))
      }
      val staged = "/tmp/graft_io/test_l43_prop"
      docs.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$staged/documents.parquet")
      val got = LlmPipeline.queries("l43_repeated_spans")(spark, staged).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
      assert(got == reference(docs), s"seed $seed diverged")
    }
  }

  test("l45 DSIR weights separate a planted target vocabulary") {
    import spark.implicits._
    // Two disjoint vocabularies: target docs speak A, raw-only docs
    // speak B. A held-out doc in vocabulary A must outscore every
    // vocabulary-B doc under log p_target − log p_raw — the DSIR
    // separation contract. (The sf corpus draws every lang from ONE
    // vocabulary, so real langs can't separate; the planted frame is
    // the honest test.)
    val vocabA = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val vocabB = Seq("omega", "sigma", "kappa", "lambda", "theta")
    def doc(v: Seq[String], seed: Int, n: Int): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(n)(v(rnd.nextInt(v.size))).mkString(" ")
    }
    val docs = (
      (1 to 10).map(i => (i.toLong, doc(vocabA, i, 40), true)) ++    // target
      (11 to 20).map(i => (i.toLong, doc(vocabB, i, 40), false)) ++  // raw-only
      Seq((21L, doc(vocabA, 99, 40), false),                         // held-out A
          (22L, doc(vocabB, 98, 40), false))                         // held-out B
    ).toDF("doc_id", "text", "is_target")
    val w = LlmText.dsirPerDoc(docs, col("is_target"), 256, sf, "test_dsir_stage")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(21L) > w(22L),
      s"held-out target-vocab doc must outscore raw-vocab doc: $w")
    val minA = (1 to 10).map(i => w(i.toLong)).min
    val maxB = (11 to 20).map(i => w(i.toLong)).max
    assert(minA > maxB, s"vocab-A docs must all outscore vocab-B docs: minA=$minA maxB=$maxB")
    assert(w(21L) > maxB && w(22L) < minA)
  }
}
