package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Pins the Misra-Gries aggregate's contract: candidate completeness
  * (every item with freq > N/(k+1) survives, under any partitioning /
  * merge order), the O(k) state bound, and count lower-bound semantics.
  */
class MisraGriesSpec extends SparkTestBase {
  import spark.implicits._

  test("mg_sketch: heavy items always survive, size stays <= k") {
    // 1000 'hot' (33%), 600 'warm' (20%), 1400 spread over 140 cold keys
    val rows = Seq.fill(1000)("hot") ++ Seq.fill(600)("warm") ++
      (0 until 1400).map(i => s"cold_${i % 140}")
    // adversarial order: heavy items first, then the cold flood that
    // forces decrements; repartition(7) exercises partial merges too
    val df = rows.toDF("t").repartition(7)
    for (k <- Seq(4, 16, 64)) {
      val m = df.agg(native_fns.mg_sketch(col("t"), k).as("sk"))
        .select(col("sk")).collect()(0).getMap[String, Long](0)
      assert(m.size <= k, s"k=$k size=${m.size}")
      // N=3000; freq("hot")=1000 > 3000/(k+1) for all tested k
      assert(m.contains("hot"), s"k=$k lost a guaranteed-heavy item")
      if (3000.0 / (k + 1) < 600) assert(m.contains("warm"))
      // lower-bound semantics: never overcount
      assert(m("hot") <= 1000L)
    }
  }

  test("mg_sketch: counts are exact when distinct keys <= k") {
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("t")
      .repartition(3)
    val m = df.agg(native_fns.mg_sketch(col("t"), 16).as("sk"))
      .select(col("sk")).collect()(0).getMap[String, Long](0)
    assert(m == Map("a" -> 5L, "b" -> 3L, "c" -> 1L))
  }

  test("mg_sketch: per-group sketches are independent; nulls skipped") {
    val df = Seq(("en", "x"), ("en", "x"), ("en", "y"),
      ("fr", "z"), ("fr", null)).toDF("g", "t")
    val got = df.groupBy("g")
      .agg(native_fns.mg_sketch(col("t"), 8).as("sk"))
      .select(col("g"), map_keys(col("sk")).as("ks"))
      .as[(String, Seq[String])].collect().toMap
    assert(got("en").toSet == Set("x", "y"))
    assert(got("fr") == Seq("z"))
  }

  test("x_mg_heavy_per_group equals the exact group-by answer") {
    val toks = graft.io.Tables.load(spark, sf, "documents")
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("token"))
    // per-group heavy hitters in one sketch pass + candidate recount:
    // every token with freq > N_lang/(k+1) is among the <= k candidates,
    // so recounting only candidate rows and filtering n*(k+1) > N_lang
    // is exact
    val k = 64
    val sketched = toks.groupBy(col("lang"))
      .agg(native_fns.mg_sketch(col("token"), k).as("sk"),
        count(lit(1)).as("total"))
      .localCheckpoint(false)
    val cands = sketched
      .select(col("lang"), explode(map_keys(col("sk"))).as("token"))
    val q = toks
      .join(broadcast(cands), Seq("lang", "token"), "left_semi")
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      .join(sketched.select(col("lang"), col("total")), Seq("lang"))
      .filter(col("n") * (k + 1) > col("total"))
      .select(col("lang"), col("token"), col("n"))
    // exact reference: full group-by (fine at spec scale)
    val exact = toks.groupBy("lang", "token").count()
      .join(toks.groupBy("lang").agg(count(lit(1)).as("tot")), Seq("lang"))
      .filter(col("count") * 65 > col("tot"))
      .select(col("lang"), col("token"), col("count").as("n"))
    assert(q.collect().toSet == exact.collect().toSet)
  }

  test("SQL registration: mg_sketch and kll_merge parse in SQL and " +
    "match the Column API bit-for-bit; non-literal k rejected") {
    graft.plans.GraftExtensions.register(spark)
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("t")
    df.createOrReplaceTempView("mg_in")
    val viaSql = spark.sql("SELECT mg_sketch(t, 16) AS sk FROM mg_in")
      .collect()(0).getMap[String, Long](0)
    val viaCol = df.agg(native_fns.mg_sketch(col("t"), 16).as("sk"))
      .collect()(0).getMap[String, Long](0)
    assert(viaSql == viaCol && viaSql("a") == 5L)
    // kll_merge: fold per-slice sketches in SQL, read with built-ins —
    // n < k so the sketch is exact and the paths must agree exactly
    val vals = (1 to 40).map(i => ("g", i.toDouble)).toDF("g", "v")
    graft.agg.AggState.partializeQuantile(vals, Seq("g"), "v")
      .unionByName(graft.agg.AggState.partializeQuantile(
        vals.withColumn("v", col("v") + 40), Seq("g"), "v"))
      .createOrReplaceTempView("kll_state")
    val sqlQ = spark.sql(
      """SELECT g, kll_sketch_get_quantile_double(
        |         kll_merge(s_kll, 200), 0.5) AS p50
        |FROM kll_state GROUP BY g""".stripMargin)
      .collect()(0).getDouble(1)
    val colQ = graft.agg.AggState.finalizedQuantile(
      graft.agg.AggState.mergeQuantile(Seq("g"),
        spark.table("kll_state")), Seq(0.5))
      .collect()(0).getDouble(1)
    assert(sqlQ == colQ && sqlQ == 40.0, s"$sqlQ vs $colQ")
    // state size is a plan-time parameter: non-literal k must fail
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT mg_sketch(t, CAST(length(t) AS INT)) FROM mg_in")
        .collect()
    }
  }
}
