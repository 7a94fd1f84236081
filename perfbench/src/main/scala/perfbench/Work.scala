package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.agg.{Charts, Profile}
import graft.insights.Insights
import graft.ops.Tidy

/** One dashboard filter selection, with the truth for its charts. */
final case class Selection(filters: Map[String, Seq[Any]], total: Double,
                           pieTop10: Seq[(String, Double)], topState: String,
                           cleanRows: Long)

object Selections {

  val PoolSize = 64

  /** A seeded pool of selections; entry 0 is the unfiltered view. */
  def pool(seed: Long, truth: Gen.Truth): IndexedSeq[Selection] = {
    val r = new SplittableRandom(seed ^ 0x5e1ec7L)
    def subset[A](xs: Seq[A], max: Int): Seq[A] = {
      val k = 1 + r.nextInt(max)
      xs.map(x => (r.nextDouble(), x)).sortBy(_._1).take(k).map(_._2)
    }
    val years = truth.recs.map(_.year).distinct.sorted.toSeq
    val filters = Iterator.continually {
      val m = Map.newBuilder[String, Seq[Any]]
      if (r.nextInt(2) == 0) m += "state" -> subset(Gen.States, 4)
      if (r.nextInt(2) == 0) m += "category" -> subset(Gen.Categories, 6)
      if (r.nextInt(3) == 0) m += "care_type" -> subset(truth.domains("care_type"), 3)
      if (r.nextInt(4) == 0) {
        val from = r.nextInt(years.size - 2)
        m += "year" -> years.slice(from, from + 2 + r.nextInt(6))
      }
      m.result()
    }.filter(_.nonEmpty)
    (Iterator.single(Map.empty[String, Seq[Any]]) ++ filters)
      .map(f => of(f, truth))
      .filter(_.total > 0)
      .take(PoolSize).toIndexedSeq
  }

  private def of(f: Map[String, Seq[Any]], truth: Gen.Truth): Selection = {
    val states = f.get("state").map(_.toSet)
    val cats = f.get("category").map(_.toSet)
    val cares = f.get("care_type").map(_.toSet)
    val years = f.get("year").map(_.toSet)
    def keep(r: Gen.Rec): Boolean =
      states.forall(_(Gen.States(r.state))) &&
        cats.forall(_(Gen.Categories(r.cat))) &&
        cares.forall(_(truth.careName(r.care))) &&
        years.forall(_(r.year))
    val rows = truth.recs.filter(keep)
    val byCat = rows.groupMapReduce(r => Gen.Categories(r.cat))(_.sep)(_ + _)
    val byState = rows.groupMapReduce(r => Gen.States(r.state))(_.sep)(_ + _)
    Selection(f, rows.iterator.map(_.sep).sum,
      byCat.toSeq.sortBy { case (k, v) => (-v, k) }.take(10),
      byState.toSeq.sortBy { case (k, v) => (-v, k) }.headOption.map(_._1).getOrElse(""),
      truth.cleanKeys.count(keep).toLong)
  }

  /** Zipf(s = 1) over pool ranks: rank 0 (the unfiltered view) is the
    * most popular.
    */
  final class Zipf(n: Int, r: SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(1.0 / _)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** The operations a workload runs, each through the program's public
  * calls, with the output checks. A check failure throws, so the caller
  * counts it as a failed operation.
  */
final class Work(spark: SparkSession, truth: Gen.Truth, tr: Tracer) {

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"output check failed: $what")

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** One full refresh: source scan plan + `Pipeline.runEtl`. Returns the
    * refresh time in seconds (checks are not timed).
    */
  def refresh(inDir: String, outDir: String, req: String): Double = {
    val t0 = System.nanoTime
    tr.span("refresh", req) { parent =>
      val tidy = tr.call("sources.load", req, parent) {
        spark.read.format("graft-sheet").load(inDir)
      }
      tr.call("pipeline.run_etl", req, parent) { Pipeline.runEtl(tidy, outDir) }
    }
    val secs = (System.nanoTime - t0) / 1e9
    tr.call("check.refresh", req, 0L) { checkRefresh(outDir) }
    secs
  }

  /** Staging rows = the generator's numeric state cells; Σ separations
    * per (year, state) equal in truth, staging and clean. One query.
    */
  private def checkRefresh(outDir: String): Unit = {
    def read(table: String) =
      spark.read.parquet(s"$outDir/$table.parquet")
        .select(lit(table).as("t"), col("year"), col("state"), col("separations"))
    val rows = read("staging_admissions").unionByName(read("clean_admissions"))
      .groupBy("t", "year", "state").agg(sum("separations"), count(lit(1)))
      .collect()
    val staged = rows.filter(_.getString(0) == "staging_admissions").map(_.getLong(4)).sum
    check(staged == truth.stagingRows, s"staging rows $staged != ${truth.stagingRows}")
    for ((table, got) <- rows.groupBy(_.getString(0))) {
      val sums = got.map(r => (r.getInt(1), r.getString(2)) -> r.getDouble(3)).toMap
      check(sums.keySet == truth.byYearState.keySet, s"$table (year, state) keys differ from truth")
      truth.byYearState.foreach { case (k, v) =>
        check(near(sums(k), v), s"$table separations for $k: ${sums(k)} != $v")
      }
    }
    check(rows.map(_.getString(0)).distinct.length == 2, "a table is empty")
  }

  /** `loadForDashboard`: the cached frame every rerun reads. */
  def load(dir: String, req: String, parent: Long = 0L): DataFrame =
    tr.call("pipeline.load_for_dashboard", req, parent) {
      Pipeline.loadForDashboard(spark, dir)
    }

  /** One dashboard rerun over `df` for selection `sel`. */
  def rerun(df: DataFrame, sel: Selection, profile: Boolean, req: String,
            parent: Long): Unit = {
    val domains = tr.call("agg.domains", req, parent) {
      Tidy.dimensions(df).flatMap { c =>
        val n = Charts.distinctCount(df, c)
        if (n > 1 && n < 50)
          Some(c -> Charts.distinctDomain(df, c).collect().map(_.getString(0)).toSeq)
        else None
      }.toMap
    }
    check(domains == truth.domains, s"sidebar domains $domains")

    val f = Tidy.applyFilters(df, sel.filters)
    val lines = tr.call("insights.generate", req, parent) { Insights.generate(f) }
    val top = lines.headOption.map(_.split("\\*\\*")).filter(_.length > 1).map(_(1))
    check(top.contains(sel.topState), s"top-state insight ${lines.headOption} != ${sel.topState}")

    val m = "separations"
    val bar = tr.call("agg.bar", req, parent) { Charts.totalsBy(f, "state", m).collect() }
    val line = tr.call("agg.line", req, parent) { Charts.totalsBy2(f, "year", "state", m).collect() }
    val pie = tr.call("agg.pie", req, parent) { Charts.topKBy(f, "category", m, 10).collect() }
    val heat = tr.call("agg.heatmap", req, parent) {
      Charts.heatmap(f, "category", "state", Gen.States, m).collect()
    }
    val tree = tr.call("agg.treemap", req, parent) {
      Charts.totalsBy2(f, "category", "principal_diagnosis", m).collect()
    }
    check(near(bar.map(_.getDouble(1)).sum, sel.total), "bar total")
    check(near(line.map(_.getDouble(2)).sum, sel.total), "line total")
    check(near(tree.map(_.getDouble(2)).sum, sel.total), "treemap total")
    check(near(heat.iterator.flatMap(r => (1 until r.length)
      .filterNot(r.isNullAt).map(r.getDouble)).sum, sel.total), "heatmap total")
    val gotPie = pie.map(r => (r.getString(0), r.getDouble(1))).toSeq
    check(gotPie.map(_._1) == sel.pieTop10.map(_._1) &&
      gotPie.zip(sel.pieTop10).forall { case (a, b) => near(a._2, b._2) },
      s"pie top-10 $gotPie != ${sel.pieTop10}")

    if (profile) {
      val p = tr.call("agg.profile", req, parent) { Profile.profile(f, f.columns.toSeq).collect() }
      check(p.length == f.columns.length &&
        p.forall(_.getAs[Long]("n") == sel.cleanRows),
        s"profile row counts != ${sel.cleanRows}")
    }
  }
}
