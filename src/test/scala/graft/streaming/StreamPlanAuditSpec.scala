package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.plans.PlanAudit

/** The streaming twin of PlanAuditSpec: every sink's PER-BATCH physical
  * plans — the executions foreachBatch actually runs, captured by a
  * QueryExecutionListener while the sink processes real micro-batches —
  * must clear the same four structural gates as the 281 batch queries
  * (zero CartesianProduct, zero global windows, BNLJ only in the 1-row
  * scalar-attach shape, SinglePartition exchanges only as a global
  * aggregate's final pass). Stateful streaming transforms are audited
  * through the micro-batch IncrementalExecution pulled off the running
  * query.
  *
  * Why a listener and not the batch twins: the batch-body twins
  * (driftBatch, commitTableEpoch, ...) are already plan-audited
  * indirectly via their oracle queries, but a sink's foreachBatch
  * COMPOSITION (empty-batch guards, state reads, manifest lookups,
  * the write itself) only exists at runtime — a regression to a
  * cartesian inside a sink body would never trip the 281-plan gate.
  * This spec closes that surface, with planted-violation negatives
  * proving the capture + classify path actually detects each class.
  *
  * Coverage is DYNAMIC (the PlanAuditSpec:98 convention): the final
  * test reflects over StreamOps for every method returning a
  * StreamingQuery and fails if any sink lacks an audit here.
  */
class StreamPlanAuditSpec extends SparkTestBase {
  import spark.implicits._
  import StreamOps._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  // ---------- capture machinery ----------

  /** Run `body` (start a sink, feed batches, stop it) and return the
    * FORMATTED physical plan of every batch execution that ran inside
    * it — foreachBatch internals fire the session's
    * QueryExecutionListener per action. The listener bus is async, so
    * capture is drained by polling until the count is stable. */
  private def captureBatchPlans(body: => Unit): Seq[String] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        buf.add(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(150)
        val n = buf.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
  }

  /** The micro-batch IncrementalExecution of a RUNNING streaming query
    * (stateful transforms don't go through foreachBatch, so their
    * per-batch plan lives on the StreamExecution). */
  private def lastExecFormatted(
      q: org.apache.spark.sql.streaming.StreamingQuery): String = {
    val se = q.getClass.getMethods.find(_.getName == "streamingQuery")
      .map(_.invoke(q)).getOrElse(q)
    val qe = se.getClass.getMethods.find(_.getName == "lastExecution")
      .getOrElse(fail(s"no lastExecution on ${se.getClass}"))
      .invoke(se)
      .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
    assert(qe != null, "query has not executed a micro-batch yet")
    qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  // ---------- classification: the PlanAudit batch-gate criteria ----------

  /** Per-sink BNLJ allowances: non-scalar BroadcastNestedLoopJoins
    * whose build side is bounded BY CONSTRUCTION, each entry naming the
    * bound. */
  private val bnljInventory: Map[String, String] = Map(
    "ivfIndexSink" -> ("C-row coarse-centroid codebook broadcast — " +
      "assignCells' nearest-cell attach in the per-batch segment write"),
    "chi2DriftSink" -> ("marginal × marginal cell-grid enumeration — " +
      "bounded by the discrete category domains (zero-observed cells " +
      "need their expected mass)"))

  /** Bucket-machinery columns (PlanAuditSpec's rule verbatim): the
    * ≤`buckets`-row bucket-totals tables of ops/Ranks and
    * ext/Eval.strictlyBelow carry `__b`-prefixed names; a global
    * window or single-partition exchange over ONLY those inputs is
    * over a bounded domain by construction. */
  private def isBucketBounded(input: String): Boolean =
    input.stripPrefix("[").stripSuffix("]").split(", ")
      .exists(_.startsWith("__b"))

  private def violations(formatted: String,
                         allowInventoriedBnlj: Boolean = false): Seq[String] = {
    val r = PlanAudit.auditFormatted(formatted)
    r.cartesianProducts.map(n => s"CartesianProduct(${n.id})") ++
      r.globalWindows
        .filterNot(w => isBucketBounded(w.input))
        .map(n => s"global Window(${n.id}) over ${n.input}") ++
      (if (allowInventoriedBnlj) Nil
       else r.broadcastNestedLoops
         .filterNot(b => PlanAudit.isScalarBroadcastBNLJ(r, b))
         .map(n => s"data-sized BroadcastNestedLoopJoin(${n.id})")) ++
      r.singlePartitionExchanges
        .filterNot(e => PlanAudit.isPartialAggFinalPass(r, e))
        .filterNot(e => isBucketBounded(e.input))
        .map(n =>
          s"SinglePartition Exchange(${n.id}) not a global-agg final " +
            s"pass over ${n.input}")
  }

  private val covered = scala.collection.mutable.Set[String]()

  private def auditSink(name: String)(body: => Unit): Unit = {
    covered += name
    val plans = captureBatchPlans(body)
    assert(plans.nonEmpty, s"$name: no micro-batch executions captured")
    plans.foreach { p =>
      val v = violations(p, bnljInventory.contains(name))
      assert(v.isEmpty,
        s"$name: micro-batch plan violates the audit: $v\n$p")
    }
    info(s"$name: ${plans.length} per-batch executions audited clean")
  }

  // ---------- the 14 sinks ----------

  test("exactlyOnceAppendSink per-batch plans clear the audit") {
    implicit val sqlCtx = spark.sqlContext
    auditSink("exactlyOnceAppendSink") {
      val dir = tmp("spa_eo")
      val mem = MemoryStream[Event]
      val q = exactlyOnceAppendSink(mem.toDF(), s"$dir/t", s"$dir/ck")
      try {
        mem.addData(Event(ts(1), 1L, "a", 1.0)); q.processAllAvailable()
        mem.addData(Event(ts(2), 2L, "b", 2.0)); q.processAllAvailable()
      } finally q.stop()
    }
  }

  test("exactlyOnceTableSink per-batch plans clear the audit") {
    implicit val sqlCtx = spark.sqlContext
    auditSink("exactlyOnceTableSink") {
      val dir = tmp("spa_eot")
      val mem = MemoryStream[Event]
      val q = exactlyOnceTableSink(mem.toDF(), s"$dir/t", s"$dir/m",
        Seq("user_id"), s"$dir/ck")
      try {
        mem.addData(Event(ts(1), 1L, "a", 1.0)); q.processAllAvailable()
        mem.addData(Event(ts(2), 2L, "b", 2.0)); q.processAllAvailable()
      } finally q.stop()
    }
  }

  test("upsertSink per-batch plans clear the audit") {
    implicit val sqlCtx = spark.sqlContext
    auditSink("upsertSink") {
      val dir = tmp("spa_up")
      val mem = MemoryStream[(Long, String, Double, String)]
      val q = upsertSink(mem.toDF().toDF("k", "name", "v", "op"),
        s"$dir/t", keys = Seq("k"), tableCols = Seq("k", "name", "v"),
        deleteCondition = col("op") === "d", checkpointDir = s"$dir/ck")
      try {
        mem.addData((1L, "a", 1.0, "u")); q.processAllAvailable()
        mem.addData((1L, "a2", 2.0, "u"), (2L, "b", 3.0, "u"))
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  test("curationSink per-batch plans clear the audit") {
    implicit val sqlCtx = spark.sqlContext
    auditSink("curationSink") {
      val dir = tmp("spa_cur")
      val mem = MemoryStream[(Long, String, String, String, Long)]
      val docs = (0 until 8).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon token$i more words here",
          "en", "web", 50L))
      val q = curationSink(
        mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
        dir, blocklist = Seq("junkword"), minChars = 5, maxChars = 2000,
        minJaccard = 0.8, checkpointDir = s"$dir/ck")
      try {
        mem.addData(docs.take(4): _*); q.processAllAvailable()
        mem.addData(docs.drop(4): _*); q.processAllAvailable()
      } finally q.stop()
    }
  }

  test("drift sinks (PSI, KS, EMD, chi2) per-batch plans clear the audit") {
    implicit val sqlCtx = spark.sqlContext
    auditSink("driftSink") {
      val dir = tmp("spa_psi")
      val ref = (0 until 40).map(_ % 4).toDF("bin")
      val mem = MemoryStream[Int]
      val q = driftSink(mem.toDF().withColumnRenamed("value", "bin"),
        col("bin"), ref, col("bin"), alarmAt = 0.2,
        outDir = s"$dir/out", checkpointDir = s"$dir/ck")
      try {
        mem.addData(0 until 20 map (_ % 4): _*); q.processAllAvailable()
        mem.addData(Seq.fill(20)(3): _*); q.processAllAvailable()
      } finally q.stop()
    }
    auditSink("ksDriftSink") {
      val dir = tmp("spa_ks")
      val ref = (0 until 40).map(_ % 8).toDF("v")
      val mem = MemoryStream[Int]
      val q = ksDriftSink(mem.toDF().withColumnRenamed("value", "v"),
        "v", ref, alarmAt = 0.3, outDir = s"$dir/out",
        checkpointDir = s"$dir/ck")
      try {
        mem.addData(0 until 20 map (_ % 8): _*); q.processAllAvailable()
        mem.addData(0 until 20 map (_ % 8 + 5): _*); q.processAllAvailable()
      } finally q.stop()
    }
    auditSink("emdDriftSink") {
      val dir = tmp("spa_emd")
      val ref = (0 until 40).map(_ % 8).toDF("v")
      val mem = MemoryStream[Int]
      val q = emdDriftSink(mem.toDF().withColumnRenamed("value", "v"),
        "v", ref, alarmAt = 50.0, outDir = s"$dir/out",
        checkpointDir = s"$dir/ck")
      try {
        mem.addData(0 until 20 map (_ % 8): _*); q.processAllAvailable()
        mem.addData(0 until 20 map (_ % 8 + 100): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    auditSink("chi2DriftSink") {
      val dir = tmp("spa_chi2")
      val ref = (0 until 60).map(i => s"c${i % 3}").toDF("cat")
      val mem = MemoryStream[String]
      val q = chi2DriftSink(mem.toDF().withColumnRenamed("value", "cat"),
        "cat", ref, "cat", alarmAt = 9.21, outDir = s"$dir/out",
        checkpointDir = s"$dir/ck")
      try {
        mem.addData((0 until 30).map(i => s"c${i % 3}"): _*)
        q.processAllAvailable()
        mem.addData(Seq.fill(30)("c0"): _*); q.processAllAvailable()
      } finally q.stop()
    }
  }

  test("state-table sinks (quantile, moments, stickiness, SPRT) " +
    "per-batch plans clear the audit") {
    implicit val sqlCtx = spark.sqlContext
    auditSink("quantileStateSink") {
      val dir = tmp("spa_q")
      val mem = MemoryStream[(String, Double)]
      val q = quantileStateSink(mem.toDF().toDF("g", "v"), Seq("g"), "v",
        tablePath = s"$dir/t", checkpointDir = s"$dir/ck")
      try {
        mem.addData((1 to 10).map(i => ("a", i.toDouble)): _*)
        q.processAllAvailable()
        mem.addData((1 to 10).map(i => ("b", i.toDouble)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    auditSink("momentsStateSink") {
      val dir = tmp("spa_m")
      val mem = MemoryStream[(String, Double, Double)]
      val q = momentsStateSink(mem.toDF().toDF("g", "x", "y"), Seq("g"),
        Seq("x", "y"), tablePath = s"$dir/t", checkpointDir = s"$dir/ck")
      try {
        mem.addData((1 to 10).map(i => ("a", i.toDouble, 2.0 * i)): _*)
        q.processAllAvailable()
        mem.addData((1 to 10).map(i => ("b", i.toDouble, 2.0 * i)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    auditSink("stickinessStateSink") {
      val dir = tmp("spa_st")
      val mem = MemoryStream[(Long, Long)]
      val q = stickinessStateSink(mem.toDF().toDF("user_id", "day"),
        "user_id", "day", tablePath = s"$dir/t",
        checkpointDir = s"$dir/ck")
      try {
        mem.addData((0 until 40).map(i => (i.toLong % 20, i.toLong % 3)): _*)
        q.processAllAvailable()
        mem.addData((0 until 40).map(i => (i.toLong % 25, i.toLong % 4)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    auditSink("sprtStateSink") {
      val dir = tmp("spa_sprt")
      val mem = MemoryStream[(String, Boolean)]
      val q = sprtStateSink(mem.toDF().toDF("variant", "conv"), "variant",
        col("conv"), tablePath = s"$dir/t", checkpointDir = s"$dir/ck")
      try {
        mem.addData((0 until 20).map(i => ("A", i % 3 == 0)): _*)
        q.processAllAvailable()
        mem.addData((0 until 20).map(i => ("B", i % 5 == 0)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  test("index sinks (text, IVF) per-batch plans clear the audit") {
    implicit val sqlCtx = spark.sqlContext
    auditSink("textIndexSink") {
      val dir = tmp("spa_ti")
      graft.ext.Retrieval.saveTextIndex(
        spark.createDataFrame(Seq.empty[(Long, String)])
          .toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx", nBuckets = 8)
      val mem = MemoryStream[(Long, String)]
      val q = textIndexSink(mem.toDF().toDF("doc_id", "text"), "doc_id",
        "text", s"$dir/idx", checkpointDir = s"$dir/ck", nBuckets = 8)
      try {
        mem.addData((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
        q.processAllAvailable()
        mem.addData((3L, "gamma delta epsilon"))
        q.processAllAvailable()
      } finally q.stop()
    }
    auditSink("ivfIndexSink") {
      val dir = tmp("spa_ivf")
      val base = (0 until 20).map { i =>
        (i.toLong, Array.tabulate(8)(d => if (d == i % 2) 1f + i else 0.1f))
      }.toDF("vec_id", "embedding")
      graft.ext.Similarity.initIvfIndex(base, "vec_id", "embedding",
        centroidIds = Seq(0L, 1L), indexDir = s"$dir/idx")
      val mem = MemoryStream[(Long, Array[Float])]
      val q = ivfIndexSink(mem.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/idx", checkpointDir = s"$dir/ck")
      try {
        mem.addData((100L, Array.tabulate(8)(d => if (d == 0) 5f else 0f)))
        q.processAllAvailable()
        mem.addData((101L, Array.tabulate(8)(d => if (d == 1) 5f else 0f)))
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  // ---------- stateful streaming transforms (IncrementalExecution) ----------

  test("stateful stream transforms: the micro-batch IncrementalExecution " +
    "clears the audit (tumbling, session, dedup, interval join)") {
    implicit val sqlCtx = spark.sqlContext
    def auditRunning(name: String, df: DataFrame, mode: String)(
        feed: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
      val q = df.writeStream.format("memory")
        .queryName(s"spa_${name}_out").outputMode(mode).start()
      try {
        feed(q)
        val p = lastExecFormatted(q)
        val v = violations(p)
        assert(v.isEmpty, s"$name: micro-batch plan violates the audit: $v\n$p")
        info(s"$name: IncrementalExecution audited clean")
      } finally q.stop()
    }
    val memT = MemoryStream[Event]
    auditRunning("tumblingAgg",
      tumblingAgg(memT.toDF(), windowLen = "10 minutes"), "complete") { q =>
      memT.addData(Event(ts(1), 1L, "a", 1.0), Event(ts(12), 2L, "b", 2.0))
      q.processAllAvailable()
    }
    val memS = MemoryStream[Event]
    auditRunning("sessionAgg", sessionAgg(memS.toDF()), "complete") { q =>
      memS.addData(Event(ts(1), 1L, "a", 1.0), Event(ts(5), 1L, "a", 1.0))
      q.processAllAvailable()
    }
    val memD = MemoryStream[Event]
    auditRunning("dedupStream",
      dedupStream(memD.toDF().withColumn("event_id",
        (col("value") * 10).cast("long")), Seq("event_id")), "append") { q =>
      memD.addData(Event(ts(1), 1L, "a", 1.0), Event(ts(2), 1L, "a", 1.0))
      q.processAllAvailable()
    }
    val memL = MemoryStream[Event]
    val memR = MemoryStream[Event]
    auditRunning("intervalJoin",
      intervalJoin(memL.toDF(), memR.toDF(), "user_id", "ts",
        lookback = "30 minutes"), "append") { q =>
      memR.addData(Event(ts(0), 1L, "signup", 0.0))
      memL.addData(Event(ts(10), 1L, "purchase", 5.0))
      q.processAllAvailable()
    }
    val memE = MemoryStream[Event]
    auditRunning("enrichStream",
      enrichStream(memE.toDF(),
        Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier"),
        "user_id", Seq("tier")), "append") { q =>
      memE.addData(Event(ts(1), 1L, "a", 1.0))
      q.processAllAvailable()
    }
  }

  test("custom-state stream transforms (transformWithState): the " +
    "micro-batch plan clears the audit (sessionizeTws, cusum, funnel, " +
    "heavy hitters)") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    def auditRunning(name: String,
        df: org.apache.spark.sql.Dataset[_], mode: String)(
        feed: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
      val q = df.toDF().writeStream.format("memory")
        .queryName(s"spa_tws_${name}_out").outputMode(mode).start()
      try {
        feed(q)
        val p = lastExecFormatted(q)
        val v = violations(p)
        assert(v.isEmpty, s"$name: micro-batch plan violates the audit: $v\n$p")
        info(s"$name: IncrementalExecution audited clean")
      } finally q.stop()
    }
    try {
      val memS = MemoryStream[Event]
      auditRunning("sessionizeTws",
        sessionizeTws(memS.toDS(), gapSec = 1800,
          watermarkDelay = "0 seconds"), "append") { q =>
        memS.addData(Event(ts(0), 1L, "a", 1.0), Event(ts(10), 1L, "a", 1.0))
        q.processAllAvailable()
      }
      val memC = MemoryStream[Event]
      auditRunning("cusumStream",
        cusumStream(memC.toDS(), target = 10.0, slack = 1.0,
          threshold = 5.0), "append") { q =>
        memC.addData(Event(ts(1), 1L, "m", 12.0), Event(ts(2), 1L, "m", 14.0))
        q.processAllAvailable()
      }
      val memF = MemoryStream[Event]
      auditRunning("funnelStream",
        funnelStream(memF.toDS(), Seq("view", "cart", "buy")),
        "append") { q =>
        memF.addData(Event(ts(1), 1L, "view", 0.0),
          Event(ts(2), 1L, "cart", 0.0), Event(ts(3), 1L, "buy", 0.0))
        q.processAllAvailable()
      }
      val memH = MemoryStream[String]
      auditRunning("heavyHittersStream",
        heavyHittersStream(memH.toDS(), k = 4), "update") { q =>
        memH.addData("a", "a", "b", "a", "c")
        q.processAllAvailable()
      }
    } finally prior match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  // ---------- planted-violation negatives ----------

  test("planted violations: a cartesian and a global window inside a " +
    "foreachBatch body ARE detected by the capture + classifiers") {
    implicit val sqlCtx = spark.sqlContext
    // cartesian: with broadcast disabled, a crossJoin of two data-sized
    // sides plans as CartesianProduct inside the micro-batch
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val cartPlans =
      try captureBatchPlans {
        val dir = tmp("spa_neg1")
        val mem = MemoryStream[Int]
        val other = spark.range(50).toDF("r")
        val q = mem.toDF().writeStream
          .option("checkpointLocation", s"$dir/ck")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.crossJoin(other).write.mode("append").parquet(s"$dir/out"); ()
          }.start()
        try { mem.addData(1, 2, 3); q.processAllAvailable() }
        finally q.stop()
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(cartPlans.exists(p =>
      violations(p).exists(_.contains("CartesianProduct"))),
      "the planted cartesian must be flagged")

    // global window: row_number() with no partition keys
    val winPlans = captureBatchPlans {
      val dir = tmp("spa_neg2")
      val mem = MemoryStream[Int]
      val q = mem.toDF().writeStream
        .option("checkpointLocation", s"$dir/ck")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("value")))
            .write.mode("append").parquet(s"$dir/out"); ()
        }.start()
      try { mem.addData(1, 2, 3); q.processAllAvailable() }
      finally q.stop()
    }
    assert(winPlans.exists(p =>
      violations(p).exists(_.contains("global Window"))),
      "the planted global window must be flagged")
  }

  // ---------- dynamic coverage (the PlanAuditSpec convention) ----------

  test("every StreamOps sink (method returning StreamingQuery) has a " +
    "per-batch plan audit in this spec") {
    val allSinks = StreamOps.getClass.getMethods
      .filter(_.getReturnType ==
        classOf[org.apache.spark.sql.streaming.StreamingQuery])
      .map(_.getName).filterNot(_.contains("$")).toSet
    assert(allSinks.nonEmpty, "reflection found no sinks — wrong type?")
    val missing = allSinks -- covered
    assert(missing.isEmpty,
      s"sinks without a micro-batch plan audit: $missing " +
        s"(covered: $covered)")
  }
}
