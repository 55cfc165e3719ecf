package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Bench, SparkEntry, Tables}
import graft.etl.{Analyze, Extract, Ingest, Load, Pipeline, Refine}

/** One benchmark run in one fresh JVM: set up once, run timed passes of
  * one workload for a wall-clock budget, write what happened to
  * `<work>/result.json`. Output checks and metric reduction happen in
  * `perfbench/run.py`, which launches this.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --cpus N --launch-ms EPOCH_MS --tables DIR
  */
object Main {

  final case class Step(name: String, seconds: Double)
  final case class Pass(index: Int, seconds: Double, cpuSeconds: Double,
                        steps: Seq[Step])

  /** What a workload runs; the seed only fills in its inputs. */
  sealed trait Workload
  /** The monthly job over a seeded corpus of `months` × 5 bank files. */
  final case class Job(months: Int, rowsPerFile: Int) extends Workload
  /** Every `stride`-th query of the surface in name order, from `offset`:
    * a fixed sample that spans all six families. */
  final case class QuerySample(stride: Int, offset: Int) extends Workload

  val workloads: Map[String, Workload] = Map(
    "pipeline_many_files" -> Job(months = 2, rowsPerFile = 500),
    "query_mix" -> QuerySample(stride = 10, offset = 5))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val name = args("workload")
    val workload = workloads(name)
    val seed = args("seed").toLong
    val budget = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val cpus = args("cpus").toInt
    val launchMs = args("launch-ms").toLong
    val tablesDir = args("tables")
    val jvmStartS = (System.currentTimeMillis() - launchMs) / 1e3
    val spans = new Spans(s"$name-seed$seed-${java.util.UUID.randomUUID()}",
      enabled = trace)
    val listeners = new Listeners

    // ---- inputs (not billed): the pipeline corpus is generated here
    val corpusDir = s"$work/corpus"
    val dataDir = s"$corpusDir/data"
    val genT0 = System.nanoTime()
    val manifest = workload match {
      case Job(months, rows) =>
        Some(Corpus.write(corpusDir, seed, months, rows, corruptFile = true))
      case _ => None
    }
    val genS = (System.nanoTime() - genT0) / 1e9
    manifest.foreach(m => write(s"$work/manifest.json", m.toJson))

    // ---- set-up, once, as a batch job starts: JVM start, session, and
    // the config load (pipeline) or the tables loaded and counted (queries)
    val setupT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // the confs graft.Bench sets
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      // keep scratch inside the run directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = workload match {
      case _: Job => Some(Pipeline.loadConfigs(spark, s"$corpusDir/example/configs"))
      case _ =>
        Tables.names.foreach { n =>
          (if (n == "events") Tables.events(spark, tablesDir)
           else Tables.load(spark, tablesDir, n)).count()
        }
        None
    }
    val setupS = jvmStartS + (System.nanoTime() - setupT0) / 1e9
    if (trace) listeners.attach(spark)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }

    // ---- the workload's passes
    val queryNames: Seq[String] = workload match {
      case QuerySample(stride, offset) =>
        SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
          .collect { case (n, i) if i % stride == offset => n }
      case _ => Nil
    }
    val order = new scala.util.Random(seed).shuffle(queryNames)
    val results = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    var extracted: DataFrame = null

    def step[T](steps: mutable.Buffer[Step], name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = spans(name)(body)
      steps += Step(name, (System.nanoTime() - t0) / 1e9)
      r
    }

    /** The job as `Pipeline.run` does it, one layer call per statement so
      * that each can be timed: extract, refine, the shaped frame cached
      * and written as `all_transactions`, the three RFMs over the written
      * table, the final count. The `Bills.db` sink, which `Pipeline.run`
      * does not have, follows the parquet write: `Load.loadToSqlite`
      * shapes the same `refined` plan again, which the cache serves. */
    def jobPass(c: Pipeline.Configs, out: String): Seq[Step] = {
      val steps = mutable.ArrayBuffer.empty[Step]
      extracted = step(steps, "etl.Extract") {
        Extract.extractAll(spark, dataDir, c.banks)
      }
      val refined = step(steps, "etl.Refine") {
        Refine.refine(extracted, c.cards, c.payments, c.merchants,
          c.keywords, Pipeline.moneyType(spark))
      }
      step(steps, "etl.Load") {
        Load.toWarehouseShape(refined).cache()
          .write.mode("overwrite").parquet(s"$out/all_transactions")
      }
      step(steps, "etl.Sqlite") { Load.loadToSqlite(refined, s"$out/Bills.db") }
      val txns = spark.read.parquet(s"$out/all_transactions")
      step(steps, "etl.Analyze.merchant") {
        Analyze.merchantRfm(txns, c.merchants, c.payments)
          .write.mode("overwrite").parquet(s"$out/rfm_merchant")
      }
      step(steps, "etl.Analyze.payment") {
        Analyze.paymentRfm(txns, c.payments)
          .write.mode("overwrite").parquet(s"$out/rfm_payment")
      }
      step(steps, "etl.Analyze.card") {
        Analyze.cardRfm(txns).write.mode("overwrite").parquet(s"$out/rfm_card")
      }
      step(steps, "etl.count") { txns.count() }
      steps.toSeq
    }

    def queryPass(keep: Boolean): Seq[Step] = order.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val (rows, schema) = spans(s"query.$name") {
        val df: DataFrame = fn(spark, tablesDir)
        (df.collect(), df.schema)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (keep) results(name) = (rows, schema)
      Step(name, dt)
    }

    // Pass 0 is the cold one: the end-to-end metrics, peak memory and,
    // in a traced run, every per-layer metric come from it. Later passes
    // fill the time budget; the pipeline's outputs are checked too.
    val passes = mutable.ArrayBuffer.empty[Pass]
    var peakRssMb = 0.0
    val loopT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    while (passes.isEmpty || elapsed < budget) {
      val i = passes.size
      spans.pass = i
      if (trace && i == 0) listeners.open()
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      val steps = spans("pass") {
        cfg match {
          case Some(c) => jobPass(c, s"$work/out/pass_$i")
          case None => queryPass(keep = i == 0)
        }
      }
      passes += Pass(i, (System.nanoTime() - t0) / 1e9,
        (processCpuNs() - c0) / 1e9, steps)
      if (i == 0) {
        listeners.close()
        peakRssMb = procStatusKb("VmHWM") / 1024.0
      }
      spark.catalog.clearCache()
    }
    val measuredS = elapsed

    // ---- query outputs of the cold pass, laid out for tools/check_oracle.py
    results.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/out/queries/$name")
    }
    if (results.nonEmpty) {
      write(s"$work/out/queries/oracle_sql.json", Json.value(
        order.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    }
    val unionShape = Option(extracted).map(e => (Ingest.routeFiles(dataDir).size,
      e.queryExecution.logical.collectLeaves().size)).getOrElse((0, 0))
    spark.stop() // drains the listener bus before attribution

    write(s"$work/result.json", Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "cpus" -> cpus, "confs" -> confs,
      "jvm_start_s" -> jvmStartS, "corpus_s" -> genS, "setup_s" -> setupS,
      "files_routed" -> unionShape._1, "union_branches" -> unionShape._2,
      "measured_s" -> measuredS,
      "peak_rss_mb" -> peakRssMb,
      "queries" -> order,
      "passes" -> passes.map(p => Json.Raw(Json.obj("index" -> p.index,
        "seconds" -> p.seconds, "cpu_seconds" -> p.cpuSeconds,
        "steps" -> p.steps.map(s => Json.Raw(Json.obj(
          "name" -> s.name, "family" -> family(s.name),
          "seconds" -> s.seconds))))))))
    if (trace) {
      write(s"$work/spans.json", spans.toJson)
      write(s"$work/layers.json", Layers.reduce(spans, listeners, passes.head,
        cpus))
    }
  }

  private def family(step: String): String =
    if (step.startsWith("etl.")) "etl" else Bench.familyOf(step)

  /** CPU time of every thread of this JVM (task, JIT, GC). */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }
}
