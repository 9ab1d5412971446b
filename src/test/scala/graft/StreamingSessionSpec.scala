package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Streaming

/** Cross-batch statefulness of j3 sessionization: with
  * `maxFilesPerTrigger=1` every staged time-range chunk is its own
  * micro-batch, so the open session MUST survive in `GroupState`
  * (as an O(1) `OpenSession`, never an event buffer) across batches —
  * a stateless per-batch sessionizer would emit fragmented sessions
  * with restarted ids at every chunk boundary (the ADVICE r3 hazard).
  * Asserting batch-split == single-batch output proves the
  * incremental `Sessions.advance` state path end-to-end; its algebra
  * is property-pinned against `Sessions.split` in `SessionSplitSpec`. */
class StreamingSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("sessionization result is identical whether or not batches split") {
    val single = Streaming.j3SessionizeWith(spark, sf, oneFilePerBatch = false).collect()
    val split = Streaming.j3SessionizeWith(spark, sf, oneFilePerBatch = true).collect()
    assert(single.nonEmpty)
    assert(split.toSeq == single.toSeq)
  }

  test("stream-stream join emits the same pair set whether or not batches split") {
    import org.apache.spark.sql.functions.col
    def pairs(mb: Boolean): Set[(Long, Long)] =
      Streaming.streamStreamPairs(spark, sf, oneFilePerBatch = mb)
        .select(col("c_id"), col("p_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(mb = false)
    val multi = pairs(mb = true)
    assert(single.nonEmpty)
    // the join state (in-horizon rows of both sides) must carry across
    // micro-batches: a stateless per-batch join would lose every match
    // whose click and purchase arrive in different batches
    assert(multi == single,
      s"multi-batch lost ${(single -- multi).size} / gained ${(multi -- single).size} pairs")
  }

  test("j13 manifest commit: replayed batch is a no-op, orphan part invisible") {
    import org.apache.spark.sql.functions.col
    // j13 itself injects both failures (poisoned replay of batch 0 and
    // a manifest-less orphan part) before reading back; the read path
    // must therefore (a) match the plain batch recompute and (b) list
    // only manifest-committed paths.
    val out = Streaming.queries("j13_transactional_sink")(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty && !rows.exists(_.getString(0) == "poison"),
      "poisoned replay/orphan rows leaked into the published snapshot")
    val batch = graft.Engine.events(spark, sf)
      .groupBy("event_type").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"published counts $streamed != batch $batch")
    // the orphan data directory exists on disk but no manifest names it
    val root = graft.Engine.scratch(spark, sf, "j13_txn")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/batch-orphan")),
      "orphan part should exist on disk (injected crash-before-commit)")
    val listed = Streaming.committedParts(spark, root)
    assert(listed.nonEmpty && !listed.exists(_.contains("orphan")),
      s"reader must only see manifest-committed parts, got $listed")
  }

  test("memory-sink queries drop their sink view and make no temporary checkpoint") {
    // Each call used to leave its `j2_sink_<uuid>` temp view (and the
    // sink's rows) registered for the rest of the session. The result
    // frame is analyzed before the view goes, so it still reads the sink.
    def sinkViews = spark.catalog.listTables().collect().map(_.name)
      .filter(_.matches("j\\d+_sink_.*")).toSeq
    // A query without a checkpointLocation gets a `temporary-<uuid>`
    // dir that Spark registers for deletion at JVM exit, where it is
    // removed with a forked `rm -rf`: read that registry.
    def temporaryCheckpoints: Set[String] = {
      val f = Class.forName("org.apache.spark.util.ShutdownHookManager$")
        .getDeclaredField("shutdownDeletePaths")
      f.setAccessible(true)
      val paths = f.get(null).asInstanceOf[scala.collection.mutable.HashSet[String]]
      paths.synchronized(paths.filter(_.contains("/temporary-")).toSet)
    }
    val before = sinkViews
    val tempBefore = temporaryCheckpoints
    val runs = (1 to 3).map(_ =>
      Streaming.queries("j2_window_rollup")(spark, sf).collect().toSeq)
    assert(runs.head.nonEmpty)
    assert(runs.forall(_ == runs.head), "repeated j2 calls must give the same rows")
    for (q <- Seq("j6_streaming_dedup", "j9_watermark_late_drop", "j11_running_user_stats"))
      assert(Streaming.queries(q)(spark, sf).collect().nonEmpty, q)
    assert(sinkViews == before, s"sink views left behind: ${sinkViews.diff(before)}")
    assert(temporaryCheckpoints == tempBefore,
      s"temporary checkpoints: ${temporaryCheckpoints -- tempBefore}")
  }
}
