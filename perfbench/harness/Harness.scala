package perfbench

import graft.SparkEntry
import graft.functions.expressions.GraftFunctions
import graft.model.ConfigLoader
import graft.operators.{GraftSqlParser, Pipeline, RestStage}
import graft.sources.Sources
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Properties
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of perfbench: builds the session, drives one workload through
  * the program's public functions with a single client thread, and writes
  * raw timings (and, when traced, spans and Spark counters) as JSON.
  *
  * Usage: Harness <settings.properties>. The properties name the mode
  * (`setup` only builds the session), the workload kind, its inputs and
  * every Spark setting; `run.py` writes them.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val p = Props.load(args(0))
    val spawnMs = p.getProperty("spawn_ms").toDouble
    val spark = session(p)
    val setupS = (System.currentTimeMillis() - spawnMs) / 1000.0
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val code =
      try {
        if (p.getProperty("mode") == "run") {
          RestStage.hostOverrides = Map.empty
          val w = if (p.getProperty("kind") == "catalog") new CatalogDriver(spark, p)
                  else new PipelineDriver(spark, p)
          out ++= new Runner(spark, p, w).run()
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          out("error") = e.toString
          1
      }
    Files.write(Paths.get(p.getProperty("result")),
      Json.value(out.toMap).getBytes(StandardCharsets.UTF_8))
    // everything the run needs is written; the work dir (Spark's local
    // dirs included) is removed by run.py, so skip the shutdown hooks
    Runtime.getRuntime.halt(code)
  }

  /** From a fresh JVM to a ready GraftSession with functions registered:
    * every `spark.*` property is a fixed session setting.
    */
  def session(p: Properties): SparkSession = {
    val b = graft.GraftSession.builder(
      p.getProperty("spark.master"),
      Some(p.getProperty("spark.sql.shuffle.partitions").toInt))
    p.stringPropertyNames().asScala.toSeq.sorted
      .filter(_.startsWith("spark."))
      .foreach(k => b.config(k, p.getProperty(k)))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    spark
  }
}

/** One workload: an iteration is the unit that is timed. */
trait Driver {
  /** Untraced iteration; returns per-query samples (catalog) or none. */
  def iterate(i: Int, check: Boolean): Seq[Map[String, Any]]
  /** Same public calls as `iterate`, each wrapped in a span. */
  def iterateTraced(i: Int, t: Tracer): Seq[Map[String, Any]]
  /** SQL texts the workload hands to the dialect layer. */
  def sqlTexts: Seq[String]
  /** Anything else the checks need from the program. */
  def extra: Map[String, Any] = Map.empty
}

final class Runner(spark: SparkSession, p: Properties, d: Driver) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile private var recording = false
  @volatile private var peakAfterGc = 0L

  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  /** Heap in use right after each collection, tracked while timing. */
  private def watchGc(): Unit = gcBeans.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (recording && n.getType == "com.sun.management.gc.notification") {
            val info = n.getUserData.asInstanceOf[CompositeData]
            val after = info.get("gcInfo").asInstanceOf[CompositeData]
              .get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
            val used = after.values().asScala.map { row =>
              row.asInstanceOf[CompositeData].get("value").asInstanceOf[CompositeData]
                .get("used").asInstanceOf[Long]
            }.sum
            if (used > peakAfterGc) peakAfterGc = used
          }
      }, null, null)
    case _ =>
  }

  private def timed(i: Int, traced: Option[Tracer], check: Boolean): Map[String, Any] = {
    System.gc()
    val g0 = gcMs
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val qs = traced match {
      case Some(t) => t.iter = i; t.span("iteration")(d.iterateTraced(i, t))
      case None => d.iterate(i, check)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    Map("i" -> i, "ms" -> ms, "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis(),
      "gc_ms" -> (gcMs - g0), "traced" -> traced.isDefined, "queries" -> qs)
  }

  def run(): Map[String, Any] = {
    val warmups = p.getProperty("warmup_iters").toInt
    val minIters = p.getProperty("min_iters").toInt
    val seconds = p.getProperty("seconds").toDouble
    val trace = p.getProperty("trace") == "1"
    watchGc()
    // warm-up: JIT, codegen caches, lazy set-up; iteration 0 also
    // writes the outputs the correctness check reads
    val warm = (0 until warmups).map(i => timed(i, None, check = i == 0))
    /** Timed iterations for `seconds`, at least `n` of them. */
    def loop(n: Int, tracerFor: Int => Option[Tracer]): Seq[Map[String, Any]] = {
      val t0 = System.nanoTime()
      Iterator.from(warmups)
        .takeWhile(i => i - warmups < n || (System.nanoTime() - t0) / 1e9 < seconds)
        .map(i => timed(i, tracerFor(i - warmups), check = false)).toVector
    }
    val res = mutable.LinkedHashMap[String, Any]("warmup" -> warm) ++= d.extra
    if (!trace) {
      recording = true
      res("iters") = loop(minIters, _ => None)
      recording = false
      res("mem_peak_mb") = peakAfterGc / 1048576.0
    } else {
      // traced and untraced iterations alternate, so JIT drift cancels
      // out of their ratio (the tracing overhead); jobs of untraced
      // iterations carry no span and are not attributed
      val jobs = new JobListener
      val phases = new PhaseListener
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(phases)
      val tracer = new Tracer(spark.sparkContext)
      val all = loop(2 * minIters, k => if (k % 2 == 1) Some(tracer) else None)
      res("iters") = all.filterNot(_("traced") == true)
      res("traced_iters") = all.filter(_("traced") == true)
      org.apache.spark.BusBridge.drain(spark.sparkContext)
      res("spans") = Json.Raw(tracer.toJson)
      res("jobs") = Json.Raw(jobs.toJson)
      res("phases") = Json.Raw(phases.toJson)
      res("rewrite_ms") = rewriteMs(d.sqlTexts)
    }
    res.toMap
  }

  /** Per-statement cost of the dialect rewrite, median of repeated calls. */
  private def rewriteMs(texts: Seq[String]): Seq[Double] = texts.map { sql =>
    (0 until 5).foreach(_ => GraftSqlParser.rewriteAll(sql))
    val xs = (0 until 21).map { _ =>
      val t0 = System.nanoTime(); GraftSqlParser.rewriteAll(sql); (System.nanoTime() - t0) / 1e6
    }.sorted
    xs(xs.size / 2)
  }
}

/** A YAML pipeline: `ConfigLoader.fromYaml` then `Pipeline.run` until the
  * CSV output is committed. Each iteration writes its own output dir.
  */
final class PipelineDriver(spark: SparkSession, p: Properties) extends Driver {
  private val yaml = new String(Files.readAllBytes(Paths.get(p.getProperty("yaml"))),
    StandardCharsets.UTF_8)
  private val input = p.getProperty("input")
  private val outRoot = p.getProperty("out")

  private def text(i: Int) = yaml.replace("__ITER__", i.toString)
  private def outDir(i: Int) = s"$outRoot/iter-$i"

  override def iterate(i: Int, check: Boolean): Seq[Map[String, Any]] = {
    Pipeline.run(spark, ConfigLoader.fromYaml(text(i)), input, Some(outDir(i)))
    Nil
  }

  override def iterateTraced(i: Int, t: Tracer): Seq[Map[String, Any]] = {
    val cfg = t.span("model.fromYaml")(ConfigLoader.fromYaml(text(i)))
    t.span("functions.register")(GraftFunctions.register(spark))
    var df = t.span("sources.load")(Sources.load(spark, input, cfg.inDelimiter, cfg.sampleLines))
    val stages = t.span("pipeline.compile")(Pipeline.compile(spark, cfg))
    stages.foreach { case (sc, stage) =>
      df = t.span(s"stage.${sc.name}.apply")(stage(spark, df))
    }
    t.span("sink.write")(Sources.writeCsv(df, outDir(i), cfg.outDelimiter))
    Nil
  }

  override def sqlTexts: Seq[String] =
    ConfigLoader.fromYaml(text(0)).filters.filter(_.actionType == "sql").flatMap(_.code)
}

/** One pass over a fixed list of catalog queries: the query function,
  * then `count()`. The check pass writes each result as parquet instead.
  */
final class CatalogDriver(spark: SparkSession, p: Properties) extends Driver {
  private val dir = p.getProperty("input")
  private val outRoot = p.getProperty("out")
  private val names = p.getProperty("queries").split(",").toSeq

  override def iterate(i: Int, check: Boolean): Seq[Map[String, Any]] = names.map { n =>
    val fn = SparkEntry.queries(n)
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    val t1 = System.nanoTime()
    val rows =
      if (check) { df.coalesce(1).write.mode("overwrite").parquet(s"$outRoot/$n"); -1L }
      else df.count()
    val t2 = System.nanoTime()
    Map("name" -> n, "build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6, "rows" -> rows)
  }

  override def iterateTraced(i: Int, t: Tracer): Seq[Map[String, Any]] = names.map { n =>
    t.span(s"query.$n") {
      val fn = SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val df = t.span("query.build")(fn(spark, dir))
      val t1 = System.nanoTime()
      val rows = t.span("query.exec")(df.count())
      val t2 = System.nanoTime()
      Map("name" -> n, "build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6, "rows" -> rows)
    }
  }

  override def sqlTexts: Seq[String] = names.flatMap(SparkEntry.oracleSql.get)

  override def extra: Map[String, Any] =
    Map("oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
}
