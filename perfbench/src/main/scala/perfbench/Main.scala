package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed window and writes its result.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <result.json> [--trace-out <trace.json>]
  *
  * Timeline: start the session while the inputs are generated → publish
  * version 0 with one full refresh (the cold refresh; under load the
  * writer's first refresh then commits version 1) → set-up:
  * `loadForDashboard` three times → the window, whose first reruns are
  * the dashboard's cold first pages. Output checks run inside every
  * operation.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", Paths.get(opt("work")), Paths.get(opt("out")),
      opt.get("trace-out").map(Paths.get(_)))
    catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def secsSince(t0: Long): Double = (System.nanoTime - t0) / 1e9

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
          work: Path, out: Path, traceOut: Option[Path]): Int = {
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val switching = workload match {
      case "dashboard_interactive" => false
      case "refresh_under_load" => true
    }

    // inputs are generated while the session starts; set-up excludes
    // only the time spent waiting for them
    val inDir = work.resolve("in")
    val g0 = System.nanoTime
    val gen = new java.util.concurrent.FutureTask(() => {
      val truth = Gen.generate(seed, inDir)
      (truth, Selections.pool(seed, truth), secsSince(g0))
    })
    new Thread(gen).start()

    val cores = Runtime.getRuntime.availableProcessors
    val clients = math.min(cores, 4)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = System.nanoTime
    val (truth, pool, genSec) = gen.get()
    val genWaitSec = secsSince(w)
    val tracer = if (traced) Some(new SparkTracer(spark)) else None
    val tr: Tracer = tracer.getOrElse(NoTrace)
    val ops = new Work(spark, truth, tr)

    val attempted = new AtomicInteger(0)
    val failed = new AtomicInteger(0)
    def op[A](what: String)(f: => A): Option[A] = {
      attempted.incrementAndGet()
      try Some(f) catch {
        case e: Exception =>
          failed.incrementAndGet()
          System.err.println(s"[perfbench] $what failed: $e")
          None
      }
    }

    // publish version 0: the refresh every dashboard reads first, and the
    // first Spark work of the process (a monthly batch's cold refresh)
    val p0 = System.nanoTime
    val v0 = work.resolve("v0").toString
    val coldRefresh = op("refresh publish")(ops.refresh(inDir.toString, v0, "publish"))
    // under load, the writer's first refresh commits version 1 before the
    // readers start, so every interaction reads a version the writer wrote
    val latest = new AtomicReference[String](v0)
    if (switching) {
      val v1 = work.resolve("v1").toString
      op("refresh r1")(ops.refresh(inDir.toString, v1, "r1")).foreach(_ => latest.set(v1))
    }
    val publishSec = secsSince(p0)

    // set-up: the dashboard's cached load, three times for a median.
    // No warm-up rerun: it would cost a quarter of a run, and the cold
    // first round is only about a tenth slower than later ones
    val loads = (1 to 3).map { i =>
      val t = System.nanoTime
      val df = ops.load(latest.get, s"setup-$i")
      (secsSince(t), df)
    }
    val loadSec = loads.map(_._1)
    val base = loads.last._2
    val setupSec = (System.currentTimeMillis - processStartMs) / 1000.0 - genWaitSec -
      publishSec - loadSec.sum + Layers.median(loadSec)

    // the window: closed-loop clients until the deadline; an operation
    // started before it runs to completion. Under load the writer goes on
    // while any reader does, so every interaction is timed under load.
    val reading = new AtomicInteger(if (switching) clients - 1 else clients)
    val newVersionReads = new AtomicInteger(0)
    val refreshTimes = new ConcurrentLinkedQueue[Double]()
    val refreshReqs = new ConcurrentLinkedQueue[String]()
    val interactionReqs = new ConcurrentLinkedQueue[String]()
    val latencies = Array.fill(clients)(mutable.ArrayBuffer.empty[Double])
    val counter = new AtomicInteger(0)
    val gc0 = gcSeconds
    val w0 = System.nanoTime
    val deadline = w0 + (seconds * 1e9).toLong
    def reader(c: Int): Thread = new Thread(() => {
      val zipf = new Selections.Zipf(pool.size, new SplittableRandom(seed * 1000003L + c))
      try while (System.nanoTime < deadline) {
        val sel = pool(zipf.next())
        val n = counter.incrementAndGet()
        val req = s"i$n"
        val t = System.nanoTime
        op(s"interaction $req") {
          val dir = latest.get
          tr.span("interaction", req) { id =>
            val df = if (switching) ops.load(dir, req, id) else base
            ops.rerun(df, sel, profile = n % 20 == 1, req, id)
          }
          latencies(c) += secsSince(t)
          interactionReqs.add(req)
          if (dir != v0) newVersionReads.incrementAndGet()
        }
      } finally reading.decrementAndGet()
    })
    def writer(): Thread = new Thread(() => {
      var k = 1
      while (System.nanoTime < deadline || reading.get > 0) {
        k += 1
        val dir = work.resolve(s"v$k").toString
        op(s"refresh r$k") {
          refreshTimes.add(ops.refresh(inDir.toString, dir, s"r$k"))
          latest.set(dir)
          refreshReqs.add(s"r$k")
        }
      }
    })
    val threads =
      if (switching) writer() +: (1 until clients).map(reader)
      else (0 until clients).map(reader)
    threads.foreach(_.start()); threads.foreach(_.join())
    val windowSec = secsSince(w0)
    val gcWindow = gcSeconds - gc0
    if (switching) op("version switch") {
      if (newVersionReads.get == 0)
        throw new IllegalStateException("no interaction read a refreshed version")
    }
    // the cold refresh is this workload's only refresh sample
    if (!switching) {
      coldRefresh.foreach(refreshTimes.add)
      refreshReqs.add("publish")
    }

    val lat = latencies.toSeq.flatten
    val refreshS = Layers.median(refreshTimes.asScala)
    // closed loop: each client's reruns per second it spent on them
    val perSec = latencies.filter(_.nonEmpty).map(l => l.size / l.sum).sum
    val endToEnd = Seq(
      "setup_s" -> setupSec,
      "refresh_s" -> refreshS,
      "refresh_rows_per_s" -> truth.stagingRows / refreshS,
      "interaction_p50_s" -> Layers.median(lat),
      "interaction_p90_s" -> Layers.pct(lat, 0.9),
      "interactions_per_s" -> perSec,
      "peak_rss_mb" -> peakRssMb)

    val layers = tracer.map { t =>
      Layers.summarise(t, refreshReqs.asScala.toSet, interactionReqs.asScala.toSet,
        truth.workbookBytes, pool.head.cleanRows, gcWindow)
    }
    spark.stop()

    def values(m: Seq[(String, Double)]) =
      Json.obj(m.map { case (k, v) => k -> Json.num(v) }: _*)
    val result = Json.obj(
      "correct" -> Json.bool(failed.get == 0 && attempted.get > 0),
      "attempted" -> attempted.get.toString,
      "failed" -> failed.get.toString,
      "metrics" -> values(layers.map(_.metrics).getOrElse(endToEnd)))
    val detail = Json.obj(
      "spark_version" -> Json.str(spark.version), "scale" -> Json.num(Gen.Scale),
      "cores" -> cores.toString, "clients" -> clients.toString,
      "tidy_rows" -> truth.stagingRows.toString,
      "clean_rows" -> pool.head.cleanRows.toString,
      "workbook_bytes" -> truth.workbookBytes.toString,
      "gen_s" -> Json.num(genSec), "gen_wait_s" -> Json.num(genWaitSec),
      "publish_s" -> Json.num(publishSec), "window_s" -> Json.num(windowSec),
      "refreshes" -> refreshTimes.size.toString,
      "interactions" -> lat.size.toString,
      "new_version_reads" -> newVersionReads.get.toString,
      "error_rate" -> Json.num(failed.get.toDouble / math.max(1, attempted.get)),
      "end_to_end" -> values(endToEnd),
      "self_times" -> layers.map(l => Json.arr(l.selfTimes.map { case (n, c, tot, self) =>
        Json.obj("name" -> Json.str(n), "count" -> c.toString,
          "total_s" -> Json.num(tot), "self_s" -> Json.num(self))
      })).getOrElse("null"),
      "run_etl_by_call_site" -> layers.map(l => Json.arr(l.runEtlBySite.map { case (n, c, tot) =>
        Json.obj("call_site" -> Json.str(n), "stages" -> c.toString, "total_s" -> Json.num(tot))
      })).getOrElse("null"))
    Files.write(out, Json.obj("result" -> result, "detail" -> detail).getBytes(UTF_8))
    for (t <- tracer; p <- traceOut) writeTrace(t, p)
    0
  }

  private def writeTrace(t: SparkTracer, p: Path): Unit = {
    val spans = t.allSpans.map { s =>
      Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "req" -> Json.str(s.req),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end))
    }
    val stages = t.stages.toSeq.map { s =>
      Json.obj("stage" -> s.stageId.toString, "job" -> s.jobId.toString,
        "group" -> Json.str(s.group), "call_site" -> Json.str(s.site),
        "tasks" -> s.numTasks.toString, "submit_ms" -> s.submit.toString,
        "done_ms" -> s.done.toString, "scans_sheets" -> Json.bool(s.scansSheets),
        "records_read" -> s.recordsRead.toString, "bytes_written" -> s.bytesWritten.toString,
        "shuffle_write" -> s.shuffleWrite.toString, "shuffle_read" -> s.shuffleRead.toString,
        "mean_task_wait_ms" -> Json.num(s.meanTaskWaitMs))
    }
    Files.write(p, Json.obj("spans" -> Json.arr(spans), "stages" -> Json.arr(stages))
      .getBytes(UTF_8))
  }
}

/** Just enough JSON writing for results and traces. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
