package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.Engine

/** LLM-data-pipeline vector operators (SURVEY §2.L2/L3 + brief):
  * cosine/L2/dot similarity, brute-force top-k ANN, IVF-bucketed ANN,
  * embedding-cosine near-dup. Distances are pure Catalyst higher-order
  * expressions (`zip_with`/`aggregate`) accumulating in double — no
  * UDFs, codegen'd, bit-deterministic.
  *
  * Scale design (100 TB corpus): the query set is always the broadcast
  * side and the corpus streams once — never corpus×corpus. The IVF
  * variant prunes the stream with a partition-prunable cluster column;
  * near-dup pairs are blocked on the cluster key so the self-join is
  * per-bucket, not all-pairs.
  */
object LlmVector {
  type Q = (SparkSession, String) => DataFrame

  /** Vector kernels: codegen'd custom Expressions (graft.expressions,
    * registered by GraftExtensions) — double accumulation in sequential
    * index order, bit-identical to the interpreted
    * `aggregate(zip_with(...))` fold they replace and to the DuckDB
    * oracle's indexed list_sum. */
  def dot(a: Column, b: Column): Column = call_function("dot_f", a, b)
  def l2(a: Column, b: Column): Column = sqrt(call_function("l2sq_f", a, b))
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    Engine.t(spark, dir, "embeddings")

  private def querySet(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir).filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** L2 op: cosine / dot / L2 distance, corpus × broadcast query set. */
  private def l2VectorSim(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir).crossJoin(broadcast(querySet(spark, dir)))
      .select(
        col("vec_id"), col("q_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("cos_sim"),
        round(dot(col("embedding"), col("q_emb")), 4).as("dot_p"),
        round(l2(col("embedding"), col("q_emb")), 4).as("l2_dist"))
      .orderBy("vec_id", "q_id")

  /** L3: brute-force top-k nearest neighbors per query (k=5). The
    * window re-uses the tiny q_id partitioning; at scale this is
    * TakeOrdered-per-query over a single corpus scan. */
  private def l3Knn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    corpus(spark, dir).crossJoin(broadcast(querySet(spark, dir)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("embedding"), col("q_emb")).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cs"), 4).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs, blocked on the cluster
    * label (the IVF coarse bucket) so the self-join is per-bucket.
    *
    * The declared output is the full doc-pair list, but the expensive
    * work — one dot product per pair — runs only on DISTINCT
    * embeddings: byte-identical vectors collapse to a min-vec_id
    * representative (one window over (label, embedding); copies of a
    * vector are always near-dups of the same partners), rep pairs pay
    * the dot products, and membership joins on the int rep key expand
    * back to doc pairs. Output is bit-identical to the rep-less form
    * (each pair's cosine is the same double expression over the same
    * two vectors; replication case diffed in `VectorExpressionSpec`) —
    * the sf10 rehearsal's ~100-copies/vector replica spent 162 s
    * computing 10⁴ redundant dots per distinct pair that the collapse
    * computes once. */
  private def l11NearDup(spark: SparkSession, dir: String): DataFrame = {
    // hv is a pure function of the key, so it does not change the
    // partitioning — it makes the window's sort compare 8 bytes
    // instead of a 64-float array in the common case. Equality is
    // still decided by the full embedding (hash collisions can't
    // merge distinct vectors). The rep map is persisted once and read
    // by all three consumers (reps + both membership joins) — the
    // window runs once, not three times.
    val w = Window.partitionBy("label", "hv", "embedding")
    val m = Engine.stage(corpus(spark, dir)
      .select(col("label"), col("vec_id"), col("embedding"),
        xxhash64(col("embedding")).as("hv"))
      .withColumn("rep", min("vec_id").over(w))
      .drop("hv"), dir, "l11_repmap")
    val reps = m.filter(col("vec_id") === col("rep"))
    val a = reps.select(col("label"), col("rep").as("a_rep"),
      col("embedding").as("ea"), sqrt(dot(col("embedding"), col("embedding"))).as("na"))
    val b = reps.select(col("label"), col("rep").as("b_rep"),
      col("embedding").as("eb"), sqrt(dot(col("embedding"), col("embedding"))).as("nb"))
    val cs = dot(col("ea"), col("eb")) / (col("na") * col("nb"))
    // a_rep <= b_rep keeps the rep==rep diagonal: it expands to the
    // C(n,2) pairs WITHIN a copy group (cos of a vector with itself,
    // same expression the rep-less form evaluated for those pairs).
    val repPairs = a.join(b, Seq("label")).filter(col("a_rep") <= col("b_rep"))
      .withColumn("cs", cs)
      .filter(col("cs") > 0.35)
      .select(col("label"), col("a_rep"), col("b_rep"), round(col("cs"), 4).as("cos_sim"))
    repPairs
      .join(m.select(col("rep").as("a_rep"), col("vec_id").as("ia")), "a_rep")
      .join(m.select(col("rep").as("b_rep"), col("vec_id").as("ib")), "b_rep")
      .filter(col("a_rep") < col("b_rep") || col("ia") < col("ib"))
      .select(col("label"), least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("cos_sim"))
      .orderBy("label", "a_id", "b_id")
  }

  /** Declared l11b: the SCALE-path rollup of l11 — near-dup pair
    * counts per IVF bucket in CLOSED FORM over distinct-embedding
    * groups, never enumerating member pairs. l11's declared output is
    * the pair LIST, which is Θ(pairs) by contract — under crawl-grade
    * duplication (the sf100 replica gives every vector ~1000 byte-
    * identical copies) the list itself grows quadratically in copy
    * count (~10⁹ rows at sf100: 238 s spent emitting + globally
    * sorting output a 100-TB pipeline would never materialize — the
    * dots were already deduped, the OUTPUT was not). This is the form
    * such a pipeline ships: group byte-identical vectors once (one
    * shuffle), pay one dot product per DISTINCT pair within a bucket,
    * count members arithmetically — intra-group C(n,2) (always
    * near-dup: cos(v,v)=1), cross-group n_a·n_b. The oracle replays
    * the identical arithmetic (DuckDB lists GROUP BY + the same
    * indexed list_sum cosine). Measured: 2.2 s at sf100 vs l11's
    * 238 s — the 80× that was pure pair-list materialization. */
  private def l11bNeardupRollup(spark: SparkSession, dir: String): DataFrame = {
    // staged once: three consumers (intra rollup + both self-join
    // sides) would otherwise each re-scan and re-group the corpus
    val grp = Engine.stage(corpus(spark, dir)
      .groupBy(col("label"), col("embedding"))
      .agg(min("vec_id").as("rep"), count(lit(1)).as("n")), dir, "l11b_groups")
    val intra = grp.groupBy("label").agg(
      sum(col("n")).as("n_vecs"),
      count(lit(1)).as("n_groups"),
      sum(expr("n * (n - 1) div 2")).as("intra_pairs"))
    val a = grp.select(col("label"), col("rep").as("a_rep"),
      col("embedding").as("ea"), col("n").as("na"))
    val b = grp.select(col("label"), col("rep").as("b_rep"),
      col("embedding").as("eb"), col("n").as("nb"))
    val cs = dot(col("ea"), col("eb")) /
      (sqrt(dot(col("ea"), col("ea"))) * sqrt(dot(col("eb"), col("eb"))))
    val cross = a.join(b, Seq("label")).filter(col("a_rep") < col("b_rep"))
      .withColumn("cs", cs).filter(col("cs") > 0.35)
      .groupBy("label").agg(
        sum(col("na") * col("nb")).as("cross_pairs"),
        max(col("cs")).as("mc"))
    intra.join(cross, Seq("label"), "left")
      .select(col("label"), col("n_vecs"), col("n_groups"),
        (col("intra_pairs") + coalesce(col("cross_pairs"), lit(0L))).as("n_pairs"),
        round(coalesce(col("mc"), lit(-1.0)), 4).as("max_cross_cos"))
      .orderBy("label")
  }

  /** Element-wise vector-mean aggregate for the IVF centroid build.
    * A typed `Aggregator` compiles to a `TypedImperativeAggregate`
    * (ObjectHashAggregate) with map-side partial merge, so the
    * exchange carries ONE (label, Σvec, n) buffer per label per task —
    * replacing r4's posexplode → groupBy(label, dim) shape whose
    * exchange carried n×dim rows (a 64× row blowup at 100 TB,
    * VERDICT r4 §Whats-wrong 4). */
  case class VecSumBuf(sum: Array[Double], n: Long)

  class VecMean extends Aggregator[Array[Float], VecSumBuf, Array[Double]] {
    override def zero: VecSumBuf = VecSumBuf(Array.emptyDoubleArray, 0L)
    private def add(acc: Array[Double], v: Array[Float]): Array[Double] =
      if (acc.isEmpty) { val s = new Array[Double](v.length); var i = 0; while (i < v.length) { s(i) = v(i); i += 1 }; s }
      else { var i = 0; while (i < acc.length) { acc(i) += v(i); i += 1 }; acc }
    override def reduce(b: VecSumBuf, a: Array[Float]): VecSumBuf =
      if (a == null) b else VecSumBuf(add(b.sum, a), b.n + 1)
    override def merge(x: VecSumBuf, y: VecSumBuf): VecSumBuf =
      if (x.n == 0) y
      else if (y.n == 0) x
      else { val s = x.sum; var i = 0; while (i < s.length) { s(i) += y.sum(i); i += 1 }; VecSumBuf(s, x.n + y.n) }
    override def finish(b: VecSumBuf): Array[Double] = b.sum.map(_ / b.n)
    override def bufferEncoder: Encoder[VecSumBuf] = Encoders.product[VecSumBuf]
    override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** IVF-bucketed ANN (scale path): centroids = per-label mean vector
    * (vector-sum partial aggregate), probe the 2 nearest centroids per
    * query, then search only those buckets.
    * Declared without oracle; the spec test checks recall vs l3. */
  /** The IVF probe set: for each query, the 2 coarse buckets whose
    * centroid is most cosine-similar. Exposed for the recall/exactness
    * spec. NOTE the testdata embeddings are isotropic (labels carry no
    * geometric structure — verified offline: mean intra-label cosine ≈
    * mean inter-label ≈ 0), so absolute recall of ANY coarse quantizer
    * is ~probes/buckets here; the invariant that holds regardless of
    * data is that results are EXACT within the probed buckets. */
  def ivfProbes(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val vecMean = udaf(new VecMean)
    val centroids = e
      .groupBy(col("label"))
      .agg(vecMean(col("embedding")).as("centroid"))
      .select(col("label").as("c_label"), col("centroid"))
    val probeW = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_label").asc)
    querySet(spark, dir).crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosine(col("q_emb"), col("centroid")))
      .withColumn("c_rank", row_number().over(probeW))
      .filter(col("c_rank") <= 2)
      .select(col("q_id"), col("q_emb"), col("c_label"))
  }

  def l12AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val probes = ivfProbes(spark, dir)
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    e.join(broadcast(probes), e("label") === probes("c_label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("embedding"), col("q_emb")).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cs"), 4).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** Random-hyperplane LSH (SimHash for vectors, Charikar 2002): bit j
    * of a vector's bucket is the sign of its projection onto plane j,
    * whose ±1 components derive from `xxhash64(j·dim + d)` —
    * data-independent, no stored model, identical on every executor.
    * 6 bits → 64 buckets. Pure Catalyst higher-order fold per row. */
  private val LSH_BITS = 6
  private val LSH_DIM = 64

  def hyperBucket(v: Column): Column = {
    def sgn(j: Column, d: Column): Column =
      when(pmod(xxhash64(j * LSH_DIM + d), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))
    val bits = transform(sequence(lit(0), lit(LSH_BITS - 1)), j => {
      val proj = aggregate(sequence(lit(0), lit(LSH_DIM - 1)), lit(0.0),
        (acc, d) => acc + element_at(v, d + 1).cast("double") * sgn(j, d))
      when(proj >= 0, pow(lit(2.0), j.cast("double")).cast("int")).otherwise(lit(0))
    })
    aggregate(bits, lit(0), (acc, b) => acc + b)
  }

  /** Probe set for L24: each query's own bucket plus its 6 Hamming-1
    * neighbors (multiprobe), so a near neighbor split across one
    * low-margin bit is still found. Exposed for the exactness spec. */
  def hyperProbes(spark: SparkSession, dir: String): DataFrame = {
    val hb = hyperBucket(col("q_emb"))
    val masks = array((0 until LSH_BITS).map(b => lit(1 << b)): _*)
    querySet(spark, dir)
      .withColumn("p_bucket",
        explode(concat(array(hb), transform(masks, m => hb.bitwiseXOR(m)))))
  }

  /** L24: hyperplane-LSH-bucketed ANN — the model-free complement to
    * IVF (L12): no centroid build pass, buckets are a pure function of
    * the vector. Corpus bucketing is one narrow map folded into the
    * scan (at 100 TB the bucket would be a write-time partition
    * column); the 7-bucket probe set BROADCASTS, so the corpus
    * streams once and only ~7/64 of it reaches the exact cosine —
    * never all-pairs. Exact top-3 within probed buckets
    * (spec-verified; absolute recall is data-dependent, same isotropy
    * caveat as L12). */
  def l24AnnHyperplane(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = corpus(spark, dir)
      .withColumn("bucket", hyperBucket(col("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    bucketed.join(broadcast(hyperProbes(spark, dir)), col("bucket") === col("p_bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("embedding"), col("q_emb")).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cs"), 4).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** Integer-quantized embedding (round(x·1000) as long): every
    * downstream sum/dot over these is EXACT integer (or a sequential
    * double fold over exact integer inputs), killing the FP-order
    * nondeterminism that kept l12/l24 no-oracle — the production ops
    * reduce float means across partitions in nondeterministic merge
    * order, which no cross-engine oracle can hash-match. Shared by the
    * l12b/l24b bounded verdict tables (l37b pattern). */
  private def quant(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Sequential double fold over exact-integer inputs — bit-identical
    * to DuckDB's indexed `list_sum(list_transform(...))` (same oracle
    * idiom the l2/l3 cosine rows already hash-match through). */
  private def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, p) => acc + p)
  private def cosQ(a: Column, b: Column): Column =
    dotQ(a, b) / (sqrt(dotQ(a, a)) * sqrt(dotQ(b, b)))

  /** Element-wise long-vector SUM aggregate (VecMean's exact-integer
    * sibling): addition of longs is associative, so the result is
    * independent of partition merge order — the property the verdict
    * tables rest on. */
  case class VecSumLBuf(sum: Array[Long])

  class VecSumLong extends Aggregator[Array[Long], VecSumLBuf, Array[Long]] {
    override def zero: VecSumLBuf = VecSumLBuf(Array.emptyLongArray)
    private def add(acc: Array[Long], v: Array[Long]): Array[Long] =
      if (v == null) acc
      else if (acc.isEmpty) v.clone()
      else { var i = 0; while (i < acc.length) { acc(i) += v(i); i += 1 }; acc }
    override def reduce(b: VecSumLBuf, a: Array[Long]): VecSumLBuf = VecSumLBuf(add(b.sum, a))
    override def merge(x: VecSumLBuf, y: VecSumLBuf): VecSumLBuf =
      if (x.sum.isEmpty) y else VecSumLBuf(add(x.sum, y.sum))
    override def finish(b: VecSumLBuf): Array[Long] = b.sum
    override def bufferEncoder: Encoder[VecSumLBuf] = Encoders.product[VecSumLBuf]
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Declared l12b: the full IVF mechanism — per-cluster centroid
    * build, 2-probe coarse quantization, exact top-3 within probed
    * buckets — replayed over integer-quantized vectors so DuckDB
    * recomputes identical centroids and rankings in SQL. Cosine is
    * scale-invariant, so the probe ranks against the exact per-label
    * SUM vector (associative long addition) instead of the mean —
    * that one substitution is what makes the whole chain
    * cross-engine-deterministic. Production l12 keeps float means. */
  private def l12bIvfVerdict(spark: SparkSession, dir: String): DataFrame = {
    // Bounded verdict corpus (l4b's doc_id<300 pattern): vec_id < 2000
    // covers the ENTIRE table at sf<=0.1 (oracle results unchanged)
    // and pins the demo cost at scale — the interpreted quantized
    // folds exist to certify arithmetic, not to be the scale path
    // (that's l12's codegen'd kernels).
    val v = corpus(spark, dir).filter(col("vec_id") < 2000)
      .select(col("vec_id"), col("label"), quant(col("embedding")).as("qv"))
    val vecSumL = udaf(new VecSumLong)
    val cents = v.groupBy(col("label"))
      .agg(vecSumL(col("qv")).as("csum"))
      .select(col("label").as("c_label"), col("csum"))
    val q = v.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("qv").as("qq"))
    val probeW = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_label").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("c_cos", cosQ(col("qq"), col("csum")))
      .withColumn("c_rank", row_number().over(probeW))
      .filter(col("c_rank") <= 2)
      .select(col("q_id"), col("qq"), col("c_label"))
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    v.join(broadcast(probes), v("label") === probes("c_label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("c_label").as("bucket"), col("vec_id"),
        cosQ(col("qv"), col("qq")).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("bucket"), col("vec_id"),
        round(col("cs"), 6).as("cos6"))
      .orderBy("q_id", "rank")
  }

  /** MD5-parity hyperplane sign matrix (6 planes × 64 dims): sign(j,d)
    * is +1 iff the first hex char of md5("hp:j:d") is even. Derived
    * driver-side once (KB-bounded constant, broadcast as a literal);
    * the DuckDB oracle re-derives it independently with its own md5,
    * so a disagreement anywhere in the derivation fails the hash. */
  private lazy val md5Signs: Seq[Seq[Long]] =
    (0 until LSH_BITS).map { j =>
      (0 until LSH_DIM).map { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"hp:$j:$d".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xF) % 2 == 0) 1L else -1L
      }
    }

  /** Bucket of an integer-quantized vector under the MD5-parity
    * hyperplanes: projections are exact long sums, so the sign bits —
    * and hence the bucket — are cross-engine-deterministic. */
  private def md5Bucket(qv: Column): Column = {
    // flattened j*64+d layout: one element_at per term instead of two
    val signs = typedLit(md5Signs.flatten)
    val bits = transform(sequence(lit(0), lit(LSH_BITS - 1)), j => {
      val proj = aggregate(sequence(lit(0), lit(LSH_DIM - 1)), lit(0L),
        (acc, d) => acc + element_at(qv, d + 1) * element_at(signs, j * LSH_DIM + d + 1))
      when(proj >= 0, pow(lit(2.0), j.cast("double")).cast("int")).otherwise(lit(0))
    })
    aggregate(bits, lit(0), (acc, b) => acc + b)
  }

  /** Declared l24b: the full hyperplane-LSH mechanism — sign-bit
    * bucketing, Hamming-1 multiprobe, exact top-3 within probed
    * buckets — with the MD5-parity sign matrix standing in for
    * production l24's xxhash64 signs (the l4b/l13b kernel-swap
    * pattern) over integer-quantized vectors, so DuckDB replays
    * bucket assignment, the 7-bucket probe set, and the final ranking
    * bit-for-bit. */
  private def l24bHyperVerdict(spark: SparkSession, dir: String): DataFrame = {
    // Same bound as l12b: full table at sf<=0.1, bounded demo beyond
    // (the 384-term interpreted sign fold per vector is certification
    // arithmetic — production l24's xxhash64 path is the scale form).
    // The quantize+bucket table is STAGED to scratch parquet once
    // (l41's multi-consumer rule — VERDICT r13 #4): it feeds the query
    // side, the probe side, and the join filter, and without staging
    // Catalyst re-evaluates the interpreted 384-term sign fold on
    // every consumer (measured 19.1 s — 9% of the whole bench suite;
    // staged: one fold pass over 2,000 rows).
    val v = Engine.stage(corpus(spark, dir).filter(col("vec_id") < 2000)
      .select(col("vec_id"), quant(col("embedding")).as("qv"))
      .withColumn("bucket", md5Bucket(col("qv"))), dir, "l24b_bucketed")
    val q = v.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("qv").as("qq"), col("bucket").as("q_bucket"))
    val masks = array((0 until LSH_BITS).map(b => lit(1 << b)): _*)
    val probes = q.withColumn("p_bucket",
      explode(concat(array(col("q_bucket")),
        transform(masks, m => col("q_bucket").bitwiseXOR(m)))))
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    v.join(broadcast(probes), col("bucket") === col("p_bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_bucket"), col("vec_id"),
        cosQ(col("qv"), col("qq")).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("q_bucket"), col("rank"), col("vec_id"),
        round(col("cs"), 6).as("cos6"))
      .orderBy("q_id", "rank")
  }

  /** L25: retrieval — the full RAG-fetch shape: top-k neighbor search
    * (L3's exact kNN) joined back to the document store for payloads.
    * The hit set is k×queries rows (tiny), so it is the BROADCAST side
    * of the payload fetch — the 100 TB document table streams once and
    * only matching rows materialize their text. */
  private def l25Retrieval(spark: SparkSession, dir: String): DataFrame = {
    val hits = l3Knn(spark, dir)
    val docs = Engine.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), substring(col("text"), 1, 40).as("snippet"))
    docs.join(broadcast(hits), docs("doc_id") === hits("vec_id"))
      .select(col("q_id"), col("rank"), col("doc_id"), col("cos_sim"),
        col("source"), col("snippet"))
      .orderBy("q_id", "rank")
  }

  /** L27: symmetric per-vector int8 quantization — the storage/compute
    * scale path for 100 TB embedding stores (4× smaller, int8 SIMD
    * kernels downstream): scale = max|x|/127, codes = round(x/scale).
    * Pure per-row higher-order expressions (narrow map, no shuffle, no
    * UDF). Emits exact-integer checksums (code sum, saturation count)
    * plus the max reconstruction error; the ≤ scale/2 error bound is
    * asserted in VectorExpressionSpec. */
  private def l27Quantize(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .withColumn("mx",
        expr("aggregate(embedding, cast(0.0 as double), (m, x) -> greatest(m, abs(cast(x as double))))"))
      .withColumn("qv",
        expr("transform(embedding, x -> cast(round(cast(x as double) / (mx / 127.0)) as int))"))
      .select(
        col("vec_id"),
        round(col("mx") / 127.0, 6).as("scale_r"),
        expr("aggregate(qv, cast(0 as bigint), (a, x) -> a + x)").as("qsum"),
        expr("size(filter(qv, x -> abs(x) = 127))").as("n_sat"),
        round(expr(
          "aggregate(zip_with(embedding, qv, (x, q) -> abs(cast(x as double) - q * (mx / 127.0))), " +
            "cast(0.0 as double), (m, v) -> greatest(m, v))"), 5).as("max_err"))
      .orderBy("vec_id")

  /** L30: semantic decontamination — the embedding-space twin of l20's
    * n-gram pass: flag corpus vectors whose max cosine against ANY
    * eval-set vector exceeds τ. The eval set is benchmark-sized, so it
    * broadcasts and the 100 TB corpus streams once through one fused
    * scan→probe→partial-max; rollup is per-label. */
  private def l30SemanticDecon(spark: SparkSession, dir: String): DataFrame = {
    val eval = corpus(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_emb"))
    corpus(spark, dir).filter(col("vec_id") >= 20)
      .crossJoin(broadcast(eval))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("e_emb")).as("cs"))
      .groupBy("vec_id", "label")
      .agg(max(col("cs")).as("mx"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_docs"),
        graft.CH.countIf(col("mx") > 0.3).as("n_contaminated"),
        round(max(col("mx")), 4).as("worst_cos"))
      .orderBy("label")
  }

  /** Assignment step shared by l40's fit loop, its declared query, and
    * the spec: nearest centroid (0-based) + squared distance per row.
    * The centroids ride along as broadcast literals, so this is a pure
    * narrow map — the corpus streams once, zero shuffle. */
  def kmeansAssign(df: DataFrame, cents: Seq[Array[Double]]): DataFrame = {
    // One flattened k×dim literal + the argmin/min CentroidScan kernel
    // pair instead of k separate l2sq_f calls: the k-call form made
    // Catalyst analyze and compile k kernel instances PER STAGE (~6 s
    // per Lloyd iteration at k=64 — plan overhead, not compute).
    // Identical arithmetic and first-min tie-break (CentroidScan doc),
    // so l40b's oracle-certified assignments are unchanged.
    val flat = typedLit(cents.flatten.toArray)
    df.withColumn("cluster", call_function("argmin_l2sq_f", col("embedding"), flat))
      .withColumn("dist_sq", call_function("min_l2sq_f", col("embedding"), flat))
  }

  /** L40: distributed k-means (Lloyd's iterations) — the coarse-
    * quantizer builder for IVF ANN (l12) when no natural bucketing
    * column exists. Scale shape per iteration: ASSIGNMENT is
    * [[kmeansAssign]] (argmin over k centroid literals via the codegen
    * `l2sq_f` kernel — narrow, zero shuffle); UPDATE is the `VecMean`
    * partial aggregate (k (Σvec, n) buffers cross the exchange, not
    * rows); the k×dim centroid matrix — KB-sized — returns to the
    * driver to become the next round's literals, the same
    * collect-per-round shape as Spark MLlib's KMeans (bounded driver
    * probe, documented). Init is deterministic farthest-point
    * (maximin) over a hash-ordered sample: ONE job collects the 256
    * smallest-xxhash64(vec_id) rows (≈ a uniform deterministic
    * sample, 256×dim doubles — KB-sized), then the greedy maximin
    * runs driver-side — robust to clustered data (a hash-only init
    * can land every seed in one cluster) without paying k−1 cluster
    * passes. Returns (final centroids, per-iteration WCSS — provably
    * non-increasing, pinned in `LlmOpsSpec`). */
  /** Driver-side squared L2 over the KB-bounded centroid/sample state
    * (shared by kmeansFit's init and l40b's deterministic init). */
  private def l2sqArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  def kmeansFit(df: DataFrame, k: Int, iters: Int): (Seq[Array[Double]], Seq[Double]) = {
    // Init sample grows with k (r20 — the k ≤ 64 clamp this lifted was
    // l44's sf100 scale cliff: capped k broke SemDeDup's k ∝ n
    // contract and the pair stage went quadratic). The hash order
    // makes the sample a uniform deterministic draw.
    val sampleN = math.max(256, 4 * k)
    val sample: Array[Array[Double]] = df
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN)
      .select("embedding").collect()
      .map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    def l2sq(a: Array[Double], b: Array[Double]): Double = l2sqArr(a, b)
    require(sample.nonEmpty, "kmeansFit: empty corpus — nothing to sample for init")
    var cents: Vector[Array[Double]] =
      if (k <= 64) {
        // maximin (k-center) init: strong spread, O(k²·|sample|)
        // driver CPU — fine at small k
        var cs: Vector[Array[Double]] = Vector(sample.head)
        var exhausted = false // fewer than k distinct sample points: stop rather than seed duplicates
        while (cs.length < k && !exhausted) {
          val far = sample.maxBy(v => cs.map(c => l2sq(v, c)).min)
          if (cs.map(c => l2sq(far, c)).min == 0.0) exhausted = true
          else cs = cs :+ far
        }
        cs
      } else {
        // large k: maximin's O(k²·|sample|) driver scan is the
        // bottleneck — seed from the FIRST k DISTINCT hash-ordered
        // sample points instead (a uniform random init; Lloyd rounds
        // own the refinement). Distinctness keeps the no-duplicate-
        // seed invariant of the maximin path.
        val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
        sample.iterator.takeWhile(_ => seen.size < k)
          .foreach(v => seen.add(v.toSeq): Unit)
        seen.iterator.map(_.toArray).toVector
      }
    val vecMean = udaf(new VecMean)
    val wcss = Seq.newBuilder[Double]
    for (_ <- 0 until iters) {
      val upd = kmeansAssign(df, cents)
        .groupBy("cluster")
        .agg(vecMean(col("embedding")).as("centroid"), sum(col("dist_sq")).as("w"))
        .collect()
      wcss += upd.map(_.getAs[Double]("w")).sum
      val m = upd.map(r => r.getAs[Int]("cluster") ->
        r.getAs[Seq[Double]]("centroid").toArray).toMap
      // cents.length, not k: init may have seeded fewer when the sample
      // held < k distinct points; empty cluster keeps its centroid
      cents = Vector.tabulate(cents.length)(j => m.getOrElse(j, cents(j)))
    }
    (cents, wcss.result())
  }

  /** Declared l40b: bounded, fully deterministic k-means VERDICT table
    * (VERDICT r11 #2, the l37b pattern): k=4 maximin init seeded at the
    * min vec_id over the vec_id<200 subset, exactly 3 Lloyd rounds,
    * centroids snapped to 6 dp after every update in BOTH engines (so
    * cross-engine summation-order noise — ~1e-13 — cannot drift the
    * fixpoint), output (cluster, n_vecs, wcss). The DuckDB oracle
    * replays the identical algorithm in SQL (unrolled maximin chain +
    * Lloyd rounds, see [[kmeansVerdictOracleSql]]), independently
    * certifying the assignment/update/WCSS arithmetic that production
    * l40's kmeansFit rides on — the same [[kmeansAssign]] codegen
    * kernel and [[VecMean]] partial aggregate. Driver-side state is
    * the k×dim centroid matrix (KB-sized), the same bounded probe
    * shape as kmeansFit; ties (argmax in init, argmin in assignment)
    * break toward the lower vec_id / cluster index in both engines. */
  private def l40bKmeansVerdict(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir).filter(col("vec_id") < 200)
    val pts: Array[Array[Double]] = e.orderBy("vec_id").select("embedding").collect()
      .map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    require(pts.nonEmpty, "l40b: empty embedding subset")
    var cents: Vector[Array[Double]] = Vector(pts.head)
    while (cents.length < 4)
      // maxBy keeps the FIRST max and pts is vec_id-ordered, so ties
      // resolve to the min vec_id — same as the oracle's ORDER BY
      cents = cents :+ pts.maxBy(v => cents.map(c => l2sqArr(v, c)).min)
    def snap(x: Double): Double =
      new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val vecMean = udaf(new VecMean)
    for (_ <- 0 until 3) {
      val upd = kmeansAssign(e, cents)
        .groupBy("cluster").agg(vecMean(col("embedding")).as("centroid")).collect()
      val m = upd.map(r => r.getAs[Int]("cluster") ->
        r.getAs[Seq[Double]]("centroid").map(snap).toArray).toMap
      // empty cluster keeps its centroid, same as the oracle's carryover
      cents = Vector.tabulate(cents.length)(j => m.getOrElse(j, cents(j)))
    }
    kmeansAssign(e, cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), round(sum(col("dist_sq")), 6).as("wcss"))
      .orderBy("cluster")
  }

  private def l40Kmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val (cents, _) = kmeansFit(e, 8, 4)
    kmeansAssign(e, cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), round(avg(sqrt(col("dist_sq"))), 3).as("mean_dist"))
      .orderBy("cluster")
  }

  /** L42: random-projection dimensionality reduction (Johnson–
    * Lindenstrauss with an Achlioptas ±1 matrix): 64-dim embeddings
    * down to 8 exact-integer components. The sign matrix is a pure
    * function of (j, d) via the md5 parity kernel (`md5_u64` ≡ DuckDB
    * `md5_number_upper`, SketchSpec-pinned) — data-independent, no
    * stored model, identical on every executor, and replayable in SQL.
    * Inputs are milli-unit-quantized ([[quant]]), so every projected
    * component is an EXACT BIGINT sum — zero FP anywhere in the
    * transform — and the op is a zero-shuffle narrow map at any scale
    * (the int8-quantize l27 shape, one rank up). The JL diagnostic
    * `(‖y‖²/k) / ‖q‖²` is the only float: two divisions over exact
    * integers, same IEEE sequence both engines. */
  private val RP_K = 8
  /** MD5-parity ±1 projection matrix for l42, derived DRIVER-SIDE once
    * (the md5Signs rule): sign(j,d) = +1 iff md5("rp{j}:{d}")'s u64 is
    * even — and the little-endian u64's parity is just the FIRST digest
    * byte's low bit, so the driver replica needs one byte. The r13 form
    * evaluated `md5_u64` INSIDE the per-row fold: RP_K×64 = 512 MD5
    * digests per row of a row-independent constant (~1M digests at
    * sf0.1 — the whole 2.2 s bench line). The DuckDB oracle still
    * re-derives the matrix independently with its own md5, so the
    * cross-engine certification is unchanged. */
  private lazy val rpSigns: Seq[Long] =
    (0 until RP_K).flatMap { j =>
      (0 until 64).map { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rp$j:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1L else -1L
      }
    }

  private def l42RandomProjection(spark: SparkSession, dir: String): DataFrame = {
    val signs = typedLit(rpSigns)
    val projected = corpus(spark, dir)
      .select(col("vec_id"), quant(col("embedding")).as("qv"))
      .withColumn("y", transform(sequence(lit(0), lit(RP_K - 1)), j =>
        aggregate(sequence(lit(0), lit(63)), lit(0L),
          (acc, d) => acc + element_at(signs, j * 64 + d + 1) * element_at(col("qv"), d + 1))))
      .withColumn("sq_q", aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x))
      .withColumn("sq_y", aggregate(col("y"), lit(0L), (acc, y) => acc + y * y))
    projected.select(
      col("vec_id") +:
        (0 until RP_K).map(j => element_at(col("y"), j + 1).as(s"y$j")) :+
        col("sq_q") :+ col("sq_y") :+
        round((col("sq_y").cast("double") / lit(RP_K.toDouble)) /
          col("sq_q").cast("double"), 6).as("jl_ratio"): _*)
      .orderBy("vec_id")
  }

  /** Deterministic planted near-duplicates shared by l44/l44b: for
    * each source a = vec_id < 60, a derived row (100000 + vec_id,
    * same label) whose vector is 10·a + b, b the next source
    * cyclically — direction ≈ a (cos ≈ 0.995 for these corpora), so
    * the dedup pass has KNOWN positives to collapse (the synthetic
    * embeddings have no natural near-dups: max within-label cos ≈
    * 0.49, measured before this op was written — a τ=0.9 prune over
    * raw data would certify nothing). The combiner runs in the
    * caller-chosen element space: float for production l44, exact
    * quantized BIGINT for the l44b oracle (where 10·qa + qb is
    * integer arithmetic DuckDB replays verbatim). */
  private def plantNearDups(src: DataFrame, combine: (Column, Column) => Column,
      vecCol: String): DataFrame = {
    // nid = partner_id − 1 (mod 60), so joining a.vec_id = nid pairs
    // source a with partner (a+1) mod 60 — the NEXT source, matching
    // the oracle's `ON b.vec_id = (a.vec_id + 1) % 60` (the naive
    // `(vec_id+1)%60 AS nid` reads the same but pairs a with a−1:
    // that sign flip was a real hash mismatch on max_cos6).
    val nxt = src.select(((col("vec_id") + 59) % 60).as("nid"),
      col(vecCol).as("nb_vec"))
    src.join(nxt, col("vec_id") === col("nid"))
      .select((col("vec_id") + 100000L).as("vec_id"),
        zip_with(col(vecCol), col("nb_vec"), combine).as(vecCol),
        col("label"))
  }

  /** L44: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — the cluster-then-prune curation pass): k-means
    * the corpus, then within each cluster mark a doc as a semantic
    * duplicate iff some LOWER-id doc in the same cluster has cosine ≥
    * τ=0.9 (keep-first election, the l18/l37 keeper rule). The
    * clustering is what makes this survive 100 TB: candidate pairs are
    * Σ n_c², not n² — k grows with the corpus so cluster size stays
    * ~constant, and the pair stage is a self-join co-partitioned on
    * the cluster key (one shuffle, no cartesian — pinned in
    * PlanShapeSpec). The
    * assignment frame (cluster + per-row norm) is staged to scratch
    * parquet once so the 5-job kmeansFit does not re-run on both join
    * sides, and norms are precomputed so each pair costs ONE codegen
    * `dot_f` kernel call. Planted near-copies (see [[plantNearDups]],
    * float space) give the pass real positives; ~60 collapse, the
    * naturals survive. no-oracle: kmeansFit reduces float means in
    * partition-merge order (same reason l40 is no-oracle); l44b below
    * certifies the prune arithmetic itself cross-engine. */
  private def l44SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = corpus(spark, dir).select("vec_id", "embedding", "label")
    // a + 0.1·b: the same DIRECTION as the oracle twin's 10·qa + qb
    // (cos to the source ≈ 0.995) but norm-preserving — L2 k-means is
    // not scale-invariant, so a 10× norm would push the planted copy
    // toward a different centroid than its source and the pair would
    // never meet in a cluster.
    val planted = plantNearDups(base.filter(col("vec_id") < 60),
      (x, y) => x + y * lit(0.1f), "embedding")
    // Stage the augmented corpus once: kmeansFit re-scans its input
    // every Lloyd iteration, and re-running the union+planted join per
    // iteration would pay the build 6× (count + 4 iterations + final
    // assign). The l22/l41 multi-consumer staging rule.
    // Stage width is SCALE-ADAPTIVE (r20, guide §2.2/§6 — derive the
    // partitioning from input size, not a constant): the n×k assignment
    // kernel needs the full cluster width once k follows n (the source
    // parquet's file count under-parallelized it at sf100 — 4 assign
    // tasks on a 32-core session), but a full-width stage of a SMALL
    // corpus schedules `stagingWidth` near-empty tasks per Lloyd round
    // (32 tasks of ~64 rows at sf0.1 — measured as ~0.5 s/round of
    // pure scheduling). Each Lloyd round costs n·k·dim FLOPs with
    // k = √n, so the width targets ~2·10⁸ FLOPs per assignment task —
    // a first row-count-only formula (n / 50 k) throttled sf10 to 5
    // tasks of >1 GFLOP each and measured 5.7× slower than full
    // width. sf0.1: 2 060 × 45 × 64 ≈ 6 MFLOP → width 1; sf10:
    // 200 k × 448 × 64 ≈ 5.7 GFLOP → width 29; sf100 caps at the
    // cluster width, preserving the sf100 under-parallelization fix.
    // one metadata job for (row count, dim, planted-source ids) instead
    // of a count + a head scan + a staged-corpus count (r21, guide
    // §1.2). The planted-row count is derivable on the driver from the
    // ≤60 source ids: plantNearDups emits one row per a < 60 whose
    // partner (a+1) mod 60 is also present — so n(all) = n(base) +
    // that pair count, the same integer all.count() returned.
    val meta = base.agg(count(lit(1)), first(size(col("embedding"))),
      collect_set(when(col("vec_id") < 60, col("vec_id")))).head()
    val nBase = meta.getLong(0)
    val dim = meta.getInt(1)
    val plantIds = meta.getSeq[Long](2).toSet
    val nAll = nBase + plantIds.count(a => plantIds.contains((a + 1) % 60))
    val flops = nBase.toDouble * math.sqrt(nBase.toDouble) * dim
    val width = math.max(1L, math.min(Engine.stagingWidth(spark).toLong,
      (flops / 2e8).toLong + 1L)).toInt
    val all = Engine.stage(base.unionByName(planted).repartition(width), dir, "l44_corpus")
    // r20 (the sf100 cliff): the old k ≤ 64 clamp froze cluster size,
    // so the pair stage Σ n_c² ≈ n²/k went QUADRATIC (~10¹¹ dot
    // products at sf100, observed as a 30-minute single-task agg). But
    // k ∝ n is wrong too on this engine: brute-force ASSIGNMENT costs
    // n·k, which is quadratic again when k follows n. The balance
    // point is k = √n — assignment n·k and pair stage n²/k both land
    // at n^1.5, each fully parallel (n·k over the row partitions,
    // n²/k over the k cluster keys). kmeansFit grows its init sample
    // with k (hash-sample init past k=64). The 4096 cap bounds the
    // broadcast centroid matrix (4096×64 doubles ≈ 2 MB); past it —
    // corpora beyond ~16M vectors — assignment should ride an ANN
    // index (l12's IVF shape), the documented next tier.
    val k = math.max(8, math.min(4096, math.sqrt(nAll.toDouble).toInt))
    val (cents, _) = kmeansFit(all, k, 4)
    val m = Engine.stage(kmeansAssign(all, cents)
      .select(col("vec_id"), col("embedding"), col("cluster"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm")), dir, "l44_asg")
    val aT = m.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val bT = m.select(col("cluster"), col("vec_id").as("b_id"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val dups = aT.join(bT, Seq("cluster")).filter(col("b_id") < col("a_id"))
      .groupBy(col("cluster"), col("a_id"))
      .agg(max(dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("mx"))
      .filter(col("mx") >= 0.9)
      .select(col("a_id").as("vec_id"), lit(1).as("dup"))
    m.join(dups, Seq("vec_id"), "left")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        graft.CH.countIf(col("dup").isNotNull).as("n_dup"),
        graft.CH.countIf(col("dup").isNull).as("n_kept"))
      .orderBy("cluster")
  }

  /** Declared l44b: bounded semantic-dedup VERDICT table (the l37b
    * pattern) certifying l44's prune arithmetic cross-engine. The
    * upstream clusterer is replaced by the deterministic `label`
    * column (the l12b precedent — cluster assignment itself is
    * certified by l40b), the corpus is the sf-complete vec_id < 400
    * prefix plus the 60 planted near-copies built in EXACT quantized
    * integer space (10·qa + qb — DuckDB replays the same BIGINT
    * arithmetic), and every pair cosine is the proven verdict-table
    * float discipline: one sequential double fold over exact-integer
    * products per pair (norms precomputed per row), sqrt/divide, round
    * to 6 dp on BOTH engines before the τ comparison. Planted rows
    * carry their source's label, so each one meets its source in the
    * bucket and collapses (cos6 ≈ 0.995 ≥ 0.9); no natural pair
    * reaches 0.5. Output fingerprints the kept SET exactly: per label,
    * counts plus the exact BIGINT sum of kept vec_ids. */
  private def l44bSemdedupVerdict(spark: SparkSession, dir: String): DataFrame = {
    val v = corpus(spark, dir).filter(col("vec_id") < 400)
      .select(col("vec_id"), quant(col("embedding")).as("qv"), col("label"))
    val planted = plantNearDups(v.filter(col("vec_id") < 60),
      (x, y) => x * lit(10L) + y, "qv")
    val all = v.unionByName(planted)
      .withColumn("nq", dotQ(col("qv"), col("qv")))
    val aT = all.select(col("label"), col("vec_id").as("a_id"),
      col("qv").as("qa"), col("nq").as("na"))
    val bT = all.select(col("label"), col("vec_id").as("b_id"),
      col("qv").as("qb"), col("nq").as("nb"))
    val cos6 = round(dotQ(col("qa"), col("qb")) /
      (sqrt(col("na")) * sqrt(col("nb"))), 6)
    val mx = aT.join(bT, Seq("label")).filter(col("b_id") < col("a_id"))
      .groupBy(col("label"), col("a_id")).agg(max(cos6).as("mx"))
      .select(col("a_id").as("vec_id"), col("mx"))
    all.join(mx, Seq("vec_id"), "left")
      .withColumn("dup", coalesce(col("mx") >= 0.9, lit(false)))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        graft.CH.countIf(col("dup")).as("n_dup"),
        graft.CH.countIf(!col("dup")).as("n_kept"),
        sum(when(!col("dup"), col("vec_id"))).as("kept_id_sum"),
        round(max(col("mx")), 6).as("max_cos6"))
      .orderBy("label")
  }

  val queries: Map[String, Q] = Map(
    "l44_semantic_dedup" -> (l44SemanticDedup _),
    "l44b_semdedup_verdict" -> (l44bSemdedupVerdict _),
    "l42_random_projection" -> (l42RandomProjection _),
    "l40_kmeans" -> (l40Kmeans _),
    "l40b_kmeans_verdict" -> (l40bKmeansVerdict _),
    "l30_semantic_decontaminate" -> (l30SemanticDecon _),
    "l27_embedding_quantize" -> (l27Quantize _),
    "l2_vector_similarity" -> (l2VectorSim _),
    "l3_knn_bruteforce" -> (l3Knn _),
    "l11_embedding_neardup" -> (l11NearDup _),
    "l11b_neardup_rollup" -> (l11bNeardupRollup _),
    "l12_ann_ivf" -> (l12AnnIvf _),
    "l12b_ivf_verdict" -> (l12bIvfVerdict _),
    "l24_ann_hyperplane" -> (l24AnnHyperplane _),
    "l24b_hyper_verdict" -> (l24bHyperVerdict _),
    "l25_retrieval" -> (l25Retrieval _))

  /** Manual double-accumulation distance SQL shared by the oracles
    * (DuckDB's list_* distance fns may accumulate in float32). */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def l2Sql(a: String, b: String): String =
    s"sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))))"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
  private def l2sqSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** DuckDB replay of [[l40bKmeansVerdict]]: the maximin init chain and
    * the 3 Lloyd rounds unrolled as CTEs (recursive CTEs can't carry
    * the per-round aggregate), per-index centroid means via zipped
    * unnest, centroids snapped to 6 dp per round like the Spark side. */
  private def kmeansVerdictOracleSql(k: Int, iters: Int, n: Int): String = {
    val sb = new StringBuilder(
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings WHERE vec_id < $n),
         |cents_i0 AS (SELECT 0 AS c, e FROM v ORDER BY vec_id LIMIT 1)""".stripMargin)
    for (kk <- 1 until k) {
      val prev = s"cents_i${kk - 1}"
      sb.append(
        s""",
           |pick_$kk AS (SELECT $kk AS c, v.e FROM v CROSS JOIN $prev k
           |  GROUP BY v.vec_id, v.e ORDER BY min(${l2sqSql("v.e", "k.e")}) DESC, v.vec_id LIMIT 1),
           |cents_i$kk AS (SELECT * FROM $prev UNION ALL SELECT * FROM pick_$kk)""".stripMargin)
    }
    var prev = s"cents_i${k - 1}"
    for (r <- 1 to iters) {
      sb.append(
        s""",
           |asg_$r AS (SELECT vec_id, e, c FROM (
           |    SELECT v.vec_id, v.e, k.c,
           |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${l2sqSql("v.e", "k.e")}, k.c) AS rk
           |    FROM v CROSS JOIN $prev k) WHERE rk = 1),
           |flat_$r AS (SELECT c, unnest(e) AS val, unnest(range(1, len(e) + 1)) AS i FROM asg_$r),
           |upd_$r AS (SELECT c, i, round(avg(val), 6) AS val FROM flat_$r GROUP BY c, i),
           |cents_r$r AS (SELECT c, list(val ORDER BY i) AS e FROM upd_$r GROUP BY c
           |  UNION ALL SELECT k.c, k.e FROM $prev k WHERE k.c NOT IN (SELECT c FROM asg_$r))""".stripMargin)
      prev = s"cents_r$r"
    }
    sb.append(
      s"""
         |SELECT c AS cluster, count(*) AS n_vecs, round(sum(d), 6) AS wcss FROM (
         |  SELECT v.vec_id, k.c, ${l2sqSql("v.e", "k.e")} AS d,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${l2sqSql("v.e", "k.e")}, k.c) AS rk
         |  FROM v CROSS JOIN $prev k) WHERE rk = 1
         |GROUP BY c ORDER BY c""".stripMargin)
    sb.toString
  }

  /** Integer quantization + bigint-list dot, the DuckDB side of
    * [[quant]]/[[dotQ]]: exact integer entries feed the same
    * sequential double fold as [[dotSql]]. */
  private val quantSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
  private def cosQSql(a: String, b: String): String = cosSql(a, b)

  val oracles: Map[String, String] = Map(
    // Replay of l44b: identical planted-copy construction in BIGINT
    // quant space, identical per-pair fold/round discipline, lower-id
    // keep-first prune within the label buckets.
    "l44b_semdedup_verdict" ->
      s"""WITH v AS (SELECT vec_id, $quantSql AS qv, label FROM embeddings
         |  WHERE vec_id < 400),
         |src AS (SELECT * FROM v WHERE vec_id < 60),
         |pl AS (SELECT a.vec_id + 100000 AS vec_id,
         |    list_transform(range(1, len(a.qv) + 1), i -> 10 * a.qv[i] + b.qv[i]) AS qv,
         |    a.label AS label
         |  FROM src a JOIN src b ON b.vec_id = (a.vec_id + 1) % 60),
         |allv AS (SELECT vec_id, qv, label, ${dotSql("qv", "qv")} AS nq
         |  FROM (SELECT * FROM v UNION ALL SELECT * FROM pl)),
         |mx AS (SELECT a.vec_id AS vec_id,
         |    max(round(${dotSql("a.qv", "b.qv")} / (sqrt(a.nq) * sqrt(b.nq)), 6)) AS mx
         |  FROM allv a JOIN allv b ON a.label = b.label AND b.vec_id < a.vec_id
         |  GROUP BY 1)
         |SELECT label, count(*) AS n,
         |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN NOT dup THEN vec_id END) AS BIGINT) AS kept_id_sum,
         |  round(max(mx), 6) AS max_cos6
         |FROM (SELECT allv.label, allv.vec_id, coalesce(m.mx >= 0.9, false) AS dup, m.mx
         |  FROM allv LEFT JOIN mx m ON allv.vec_id = m.vec_id)
         |GROUP BY label ORDER BY label""".stripMargin,
    "l42_random_projection" ->
      ("""WITH q AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |p AS (SELECT vec_id,
         |    list_transform(range(0, 8), j ->
         |      CAST(list_sum(list_transform(range(1, 65), d ->
         |        (CASE WHEN md5_number_upper(CONCAT('rp', j, ':', d - 1)) % 2 = 0 THEN 1 ELSE -1 END) * qv[d])) AS BIGINT)) AS y,
         |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS sq_q
         |  FROM q),
         |p2 AS (SELECT vec_id, y, sq_q,
         |    CAST(list_sum(list_transform(y, v -> v * v)) AS BIGINT) AS sq_y
         |  FROM p)
         |SELECT vec_id, """.stripMargin +
        (0 until 8).map(j => s"y[${j + 1}] AS y$j").mkString(", ") +
        """, sq_q, sq_y,
          |  round((CAST(sq_y AS DOUBLE) / 8.0) / CAST(sq_q AS DOUBLE), 6) AS jl_ratio
          |FROM p2 ORDER BY vec_id""".stripMargin),
    "l40b_kmeans_verdict" -> kmeansVerdictOracleSql(4, 3, 200),
    // Brute-force replay of l12b: exact per-label SUM centroids
    // (associative bigint addition — the whole reason the verdict
    // quantizes), 2-probe coarse ranking, exact top-3 in the probed
    // buckets. Cosine vs the sum vector == cosine vs the mean
    // (scale invariance).
    "l12b_ivf_verdict" ->
      s"""WITH v AS (SELECT vec_id, label, $quantSql AS qv FROM embeddings
         |  WHERE vec_id < 2000),
         |flat AS (SELECT label, unnest(qv) AS val, unnest(range(1, len(qv) + 1)) AS i FROM v),
         |cent AS (SELECT label, list(s ORDER BY i) AS csum FROM
         |    (SELECT label, i, sum(val) AS s FROM flat GROUP BY label, i) GROUP BY label),
         |q AS (SELECT vec_id AS q_id, qv AS qq FROM v WHERE vec_id < 3),
         |probe AS (SELECT q_id, label, qq FROM (
         |    SELECT q.q_id, c.label, q.qq,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${cosQSql("q.qq", "c.csum")} DESC, c.label ASC) AS rk
         |    FROM q CROSS JOIN cent c) WHERE rk <= 2)
         |SELECT q_id, CAST(rank AS INT) AS rank, bucket, vec_id, cos6 FROM (
         |  SELECT p.q_id, v.label AS bucket, v.vec_id,
         |    round(${cosQSql("v.qv", "p.qq")}, 6) + 0.0 AS cos6,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY ${cosQSql("v.qv", "p.qq")} DESC, v.vec_id ASC) AS rank
         |  FROM v JOIN probe p ON v.label = p.label WHERE v.vec_id != p.q_id)
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    // Brute-force replay of l24b: DuckDB independently derives the
    // MD5-parity sign matrix, the exact-integer projections/buckets,
    // the Hamming-1 multiprobe set, and the final ranking.
    "l24b_hyper_verdict" ->
      s"""WITH v AS (SELECT vec_id, $quantSql AS qv FROM embeddings
         |  WHERE vec_id < 2000),
         |flat AS (SELECT vec_id, unnest(qv) AS val, unnest(range(0, len(qv))) AS d FROM v),
         |signs AS (SELECT j, d,
         |    CASE WHEN substr(md5('hp:' || CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)
         |      IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END AS s
         |  FROM range(6) t(j) CROSS JOIN range(64) u(d)),
         |proj AS (SELECT f.vec_id, s.j, sum(f.val * s.s) AS p
         |  FROM flat f JOIN signs s ON f.d = s.d GROUP BY 1, 2),
         |bkt AS (SELECT vec_id,
         |    CAST(sum(CASE WHEN p >= 0 THEN 1 << j ELSE 0 END) AS INT) AS bucket
         |  FROM proj GROUP BY 1),
         |vb AS (SELECT v.vec_id, v.qv, b.bucket FROM v JOIN bkt b USING (vec_id)),
         |q AS (SELECT vec_id AS q_id, qv AS qq, bucket AS q_bucket FROM vb WHERE vec_id < 3),
         |probes AS (SELECT q_id, qq, q_bucket, unnest(list_concat([q_bucket],
         |    list_transform(range(0, 6), b -> CAST(xor(q_bucket, 1 << b) AS INT)))) AS p_bucket
         |  FROM q)
         |SELECT q_id, q_bucket, CAST(rank AS INT) AS rank, vec_id, cos6 FROM (
         |  SELECT p.q_id, p.q_bucket, v.vec_id,
         |    round(${cosQSql("v.qv", "p.qq")}, 6) + 0.0 AS cos6,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY ${cosQSql("v.qv", "p.qq")} DESC, v.vec_id ASC) AS rank
         |  FROM vb v JOIN probes p ON v.bucket = p.p_bucket WHERE v.vec_id != p.q_id)
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "l30_semantic_decontaminate" ->
      s"""WITH cs AS (SELECT c.vec_id, c.label,
         |    ${cosSql("c.embedding", "e.embedding")} AS cs
         |  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) e
         |  WHERE c.vec_id >= 20),
         |mx AS (SELECT vec_id, label, max(cs) AS mx FROM cs GROUP BY 1, 2)
         |SELECT label, count(*) AS n_docs,
         |  count(CASE WHEN mx > 0.3 THEN 1 END) AS n_contaminated,
         |  round(max(mx), 4) AS worst_cos
         |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin,
    "l27_embedding_quantize" ->
      """WITH m AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
        |  FROM embeddings),
        |q AS (SELECT vec_id, e, scale,
        |    list_transform(e, x -> CAST(round(x / scale) AS INT)) AS qv FROM m)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        |  CAST(list_sum(qv) AS BIGINT) AS qsum,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_sat,
        |  round(list_max(list_transform(range(1, len(e) + 1),
        |    i -> abs(e[i] - qv[i] * scale))), 5) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    // `+ 0.0` normalizes IEEE -0.0 → +0.0: DuckDB round(-1e-9, 4)
    // yields -0.0 where Spark's round yields +0.0 (hit at sf0.1,
    // vec 1235 × query 1).
    "l2_vector_similarity" ->
      s"""SELECT c.vec_id, q.vec_id AS q_id,
         |  round(${cosSql("c.embedding", "q.embedding")}, 4) + 0.0 AS cos_sim,
         |  round(${dotSql("c.embedding", "q.embedding")}, 4) + 0.0 AS dot_p,
         |  round(${l2Sql("c.embedding", "q.embedding")}, 4) AS l2_dist
         |FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
         |ORDER BY c.vec_id, q_id""".stripMargin,
    "l25_retrieval" ->
      s"""WITH hits AS (
         |  SELECT q_id, CAST(rank AS INT) AS rank, vec_id, round(cs, 4) AS cos_sim FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |      ${cosSql("c.embedding", "q.embedding")} AS cs,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosSql("c.embedding", "q.embedding")} DESC, c.vec_id ASC) AS rank
         |    FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
         |    WHERE c.vec_id != q.vec_id)
         |  WHERE rank <= 5)
         |SELECT h.q_id, h.rank, d.doc_id, h.cos_sim, d.source,
         |  substr(d.text, 1, 40) AS snippet
         |FROM documents d JOIN hits h ON d.doc_id = h.vec_id
         |ORDER BY h.q_id, h.rank""".stripMargin,
    "l3_knn_bruteforce" ->
      s"""SELECT q_id, CAST(rank AS INT) AS rank, vec_id, round(cs, 4) AS cos_sim FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ${cosSql("c.embedding", "q.embedding")} AS cs,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosSql("c.embedding", "q.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
         |  WHERE c.vec_id != q.vec_id)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "l11b_neardup_rollup" ->
      s"""WITH grp AS (
         |  SELECT label, embedding, min(vec_id) AS rep, count(*) AS n
         |  FROM embeddings GROUP BY label, embedding),
         |intra AS (
         |  SELECT label, CAST(sum(n) AS BIGINT) AS n_vecs,
         |    CAST(count(*) AS BIGINT) AS n_groups,
         |    CAST(sum(n * (n - 1) // 2) AS BIGINT) AS intra_pairs
         |  FROM grp GROUP BY label),
         |cr AS (
         |  SELECT x.label, CAST(sum(x.n * y.n) AS BIGINT) AS cross_pairs,
         |    max(${cosSql("x.embedding", "y.embedding")}) AS mc
         |  FROM grp x JOIN grp y ON x.label = y.label AND x.rep < y.rep
         |  WHERE ${cosSql("x.embedding", "y.embedding")} > 0.35
         |  GROUP BY x.label)
         |SELECT i.label, i.n_vecs, i.n_groups,
         |  i.intra_pairs + coalesce(cr.cross_pairs, 0) AS n_pairs,
         |  round(coalesce(cr.mc, -1), 4) AS max_cross_cos
         |FROM intra i LEFT JOIN cr USING (label) ORDER BY label""".stripMargin,
    "l11_embedding_neardup" ->
      s"""SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(${cosSql("a.embedding", "b.embedding")}, 4) AS cos_sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} > 0.35
         |ORDER BY a.label, a_id, b_id""".stripMargin)
}
