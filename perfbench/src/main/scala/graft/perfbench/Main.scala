package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheOnce, Digests, Gold, Pipeline, Serving, Silver, SparkEntry, Tables}

/** One benchmark run of one workload in a fresh JVM:
  *
  *   --workload medallion|operator_mix --seed N --seconds S --trace 0|1
  *   --data <table dir> --work <work dir> --out <record.json> --cpus N
  *
  * Set-up (session start, warm-up, shared-frame builds) ends at the first
  * timed operation; timed passes then repeat until S seconds of passes
  * have been measured. Correctness evidence (row counts, quality counts,
  * result digests, errors) is recorded per operation, untimed, and judged
  * by the caller against the recorded expectations. The record is one
  * JSON object written to --out. */
object Main {

  /** One attempted operation: its error, if it raised one, and the
    * values the caller checks (already rendered as JSON). */
  final case class Op(name: String, error: Option[String], fields: Seq[(String, String)])

  /** The measurements of one run. `minPasses` timed passes are made even
    * when `seconds` have been measured (a traced run makes two, so the
    * drift across passes is measured within the run). */
  final class Run(val seed: Long, val seconds: Double, val minPasses: Int,
      observer: Observer) {
    var setupS = 0.0
    var cacheMb = 0.0
    private var measuredS = 0.0
    var passes = 0
    val passS = mutable.ArrayBuffer.empty[Double]
    /** (query, latency ms) of every query in the timed passes. */
    val queryMs = mutable.ArrayBuffer.empty[(String, Double)]
    private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val ops = mutable.ArrayBuffer.empty[Op]
    val trace = mutable.ArrayBuffer.empty[(String, Double)]
    var spans = "[]"

    /** Set-up ends at the first timed operation. */
    def endSetup(): Unit = setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    /** Whether another timed pass is due. */
    def measuring: Boolean = measuredS < seconds || passes < minPasses

    /** Wall seconds of `body`. */
    def clock[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    /** One timed pass and its wall seconds; the time counts in `pass_s`
      * when `counted`. The peak storage memory of cached blocks up to the
      * end of the first pass is the run's `cache_mb`. */
    def timedPass[A](body: => A, counted: A => Boolean = (_: A) => true): (A, Double) = {
      val w0 = System.currentTimeMillis()
      val (r, dt) = clock(body)
      windows += ((w0, System.currentTimeMillis()))
      passes += 1
      measuredS += dt
      if (counted(r)) passS += dt
      if (passes == 1) {
        drain()
        cacheMb = observer.peakCachedBytes / (1024.0 * 1024.0)
      }
      (r, dt)
    }

    /** Latencies of the root SQL executions inside the timed passes, each
      * keyed by its position in its pass (a pass runs the same executions
      * in the same order). */
    def sqlExecutionMs: Seq[(String, Double)] = {
      drain()
      observer.executionMs(windows.toSeq).flatMap(_.zipWithIndex.map {
        case (ms, i) => f"sql$i%03d" -> ms })
    }

    private def drain(): Unit =
      org.apache.spark.perfbench.Bus.drain(org.apache.spark.SparkContext.getOrCreate())
  }

  /** Progress line on the run log, stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $msg")

  def attempt[A](body: => A): Either[String, A] =
    try Right(body)
    catch {
      case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n'))
    }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val cpus = opt("cpus")
    val spark = workload match {
      case "medallion" => Sessions.pipeline(cpus)
      case "operator_mix" => Sessions.bench(cpus)
      case other => sys.error(s"unknown workload $other")
    }
    spark.sparkContext.setLogLevel("WARN")
    log("session started")
    val observer = new Observer
    spark.sparkContext.addSparkListener(observer)
    val run = new Run(opt("seed").toLong, opt("seconds").toDouble,
      opt.get("min-passes").map(_.toInt).getOrElse(if (trace) 2 else 1), observer)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val work = new File(opt("work"))
    workload match {
      case "medallion" => Medallion.run(spark, opt("data"), work, run, tracer)
      case "operator_mix" => OperatorMix.run(spark, opt("data"), run, tracer)
    }
    val record = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> run.seed.toString,
      "conf" -> Json.obj(spark.conf.getAll.toSeq.sortBy(_._1)
        .filter { case (k, _) => Sessions.stamped(k) }
        .map { case (k, v) => k -> Json.str(v) }: _*),
      "setup_s" -> Json.num(run.setupS),
      "pass_s" -> Json.nums(run.passS.toSeq),
      "query_ms" -> Json.obj(run.queryMs.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (q, ms) => q -> Json.nums(ms.map(_._2)) }: _*),
      "cache_mb" -> Json.num(run.cacheMb),
      "ops" -> Json.arr(run.ops.toSeq.map { op =>
        Json.obj(Seq("name" -> Json.str(op.name),
          "error" -> op.error.map(Json.str).getOrElse("null")) ++ op.fields: _*)
      }),
      "trace" -> Json.obj(run.trace.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "spans" -> run.spans)
    Files.write(new File(opt("out")).toPath, record.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The session confs of the program's own entry points, at `cpus`. */
object Sessions {
  private def base(cpus: String) = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  /** `graft.Pipeline.main`'s session. */
  def pipeline(cpus: String): SparkSession = base(cpus).getOrCreate()

  /** `graft.Bench.main`'s session, at its defaults. */
  def bench(cpus: String): SparkSession = base(cpus)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    .getOrCreate()

  /** Conf keys stamped into the record (the ones the entry points set). */
  def stamped(key: String): Boolean =
    key == "spark.master" || key == "spark.ui.enabled" ||
      key.startsWith("spark.sql.") && key != "spark.sql.warehouse.dir"
}

/** `graft.Pipeline.run` on the bronze tables, one fresh run directory per
  * pass; set-up is the session start plus one warm-up pass. A traced run
  * then executes the replica below; every run ends with one re-publish
  * into the first timed pass's directory, the reference's
  * publish-to-the-same-location pattern. */
object Medallion {
  /** Record a Pipeline.run outcome as one operation, checking the run
    * directory with `Pipeline.checkGold` unless told not to. */
  private def record(spark: SparkSession, dir: String, name: String,
      res: Either[String, Pipeline.Result], seconds: Double, run: Main.Run,
      checkGold: Boolean = true): Unit = {
    val checked = res.flatMap(r =>
      if (checkGold) Main.attempt(Pipeline.checkGold(spark, dir)).map(_ => r) else Right(r))
    Main.log(f"$name: $seconds%.2fs ${checked.left.getOrElse("ok")}")
    run.ops += Main.Op(name, checked.left.toOption, res.toOption.map(r =>
      Seq("rows" -> Json.longs(r.rows), "quality" -> Json.longs(r.quality))).getOrElse(Nil))
  }

  def run(spark: SparkSession, data: String, work: File, run: Main.Run,
      tracer: Option[Tracer]): Unit = {
    val root = new File(work, "medallion").getAbsolutePath
    def publish(dir: String) = Main.attempt(Pipeline.run(spark, data, dir))
    val (warm, warmS) = run.clock(publish(s"$root/warmup"))
    record(spark, s"$root/warmup", "pipeline.run warmup", warm, warmS, run, checkGold = false)
    run.endSetup()
    while (run.measuring) {
      val dir = s"$root/pass${run.passes + 1}"
      val (res, dt) = run.timedPass(publish(dir), (r: Either[String, Pipeline.Result]) => r.isRight)
      record(spark, dir, s"pipeline.run pass${run.passes}", res, dt, run)
    }
    tracer.foreach { t =>
      val dir = s"$root/traced"
      t.start()
      val (res, tracedS) = run.clock(Main.attempt(replica(spark, data, dir, t, run)))
      t.stop()
      run.ops += Main.Op("replica", res.left.toOption,
        res.toOption.map(r => Seq("rows" -> Json.longs(r))).getOrElse(Nil))
      val (after, afterS) = run.clock(publish(s"$root/after"))
      record(spark, s"$root/after", "pipeline.run after trace", after, afterS, run)
      val (files, bytes) = outputFiles(new File(dir))
      run.trace ++= t.layerMetrics(Layers.all) ++ Seq(
        "pipeline.output_mb" -> bytes / (1024.0 * 1024.0),
        "pipeline.output_files" -> files.toDouble,
        "trace.pass_s" -> tracedS,
        "trace.overhead_frac" -> (tracedS / ((run.passS.lastOption.getOrElse(afterS) + afterS) / 2) - 1),
        "shared.memo_entries" -> Layers.cacheOnceEntries.toDouble)
      run.spans = t.spansJson
    }
    // untimed: the same-directory re-publish counts as an attempted operation
    val (res, dt) = run.clock(publish(s"$root/pass1"))
    record(spark, s"$root/pass1", "pipeline.run republish pass1", res, dt, run)
    run.queryMs ++= run.sqlExecutionMs
  }

  /** `Pipeline.run`'s calls and writes, one span per public call, with the
    * fact/feature cache builds and the score thresholds as spans of their
    * own. Returns the read-back row count per gold sink. */
  def replica(spark: SparkSession, data: String, out: String, span: Spans,
      run: Main.Run): Map[String, Long] = {
    val rawOrders = span("tables.orders")(Tables.orders(spark, data))
    val rawCustomer = span("tables.customer")(Tables.customer(spark, data))
    span("silver.qualityCounters")(Silver.qualityCounters(rawOrders, rawCustomer).first())
    span("silver.cleanOrders")(Silver.cleanOrders(rawOrders, rawCustomer)
      .write.mode("overwrite").parquet(s"$out/silver/orders"))
    span("silver.cleanCustomers")(Silver.cleanCustomers(rawCustomer)
      .write.mode("overwrite").parquet(s"$out/silver/customer"))

    val orders = span("pipeline.readSilver")(spark.read.parquet(s"$out/silver/orders"))
    val customer = span("pipeline.readSilver")(spark.read.parquet(s"$out/silver/customer"))
    val nation = span("tables.nation")(Tables.nation(spark, data))
    val lineitem = span("tables.lineitem")(Tables.lineitem(spark, data))
    val part = span("tables.part")(Tables.part(spark, data))

    val ref = span("gold.referenceDate")(Gold.referenceDate(Gold.validOrders(orders)))
    def built(name: String, df: => DataFrame): DataFrame = span(s"shared.$name") {
      val cached = CacheOnce(df)
      cached.write.format("noop").mode("overwrite").save()
      cached
    }
    val fact = built("fact", Gold.buildFact(orders, customer, nation))
    val feats = built("feats", Gold.clientFeatures(orders, lineitem, ref))
    val thresholds = span("gold.scoreThresholds")(Gold.scoreThresholds(feats))
    val scored = span("gold.scoreClients")(Gold.scoreClients(feats, thresholds))

    val sinks: Seq[(String, String, () => DataFrame, Seq[String])] = Seq(
      ("gold", "fact_achats", () => fact, Seq("annee")),
      ("gold", "dim_clients", () => Gold.dimClients(customer, orders, lineitem, ref), Nil),
      ("gold", "client_features", () => feats, Nil),
      ("gold", "client_scores", () => scored, Nil),
      ("gold", "segment_summary", () => Gold.segmentSummary(scored), Nil),
      ("gold", "ca_monthly", () => Gold.caMonthly(fact), Nil),
      ("gold", "ca_country", () => Gold.caCountry(fact), Nil),
      ("gold", "ca_product", () => Gold.caProduct(orders, lineitem, part), Nil),
      ("gold", "cohort_first_purchase", () => Gold.cohort(fact), Nil),
      ("serving", "gold_daily", () => Serving.daily(fact), Nil),
      ("serving", "gold_weekly", () => Serving.weekly(fact), Nil),
      ("serving", "gold_distribution", () => Serving.distribution(fact), Nil),
      ("serving", "gold_monthly_growth", () => Serving.monthlyGrowth(Gold.caMonthly(fact)), Nil))
    val rows = sinks.map { case (layer, name, df, partitions) =>
      span(s"$layer.$name") {
        val writer = df().write.mode("overwrite")
        (if (partitions.nonEmpty) writer.partitionBy(partitions: _*) else writer)
          .parquet(s"$out/gold/$name")
      }
      name -> span("pipeline.readBack")(spark.read.parquet(s"$out/gold/$name").count())
    }.toMap
    run.trace += "shared.cache_mb" ->
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)
    span("shared.unpersist") { fact.unpersist(); feats.unpersist() }
    rows
  }

  /** Data files (not markers or checksums) under a run directory. */
  private def outputFiles(dir: File): (Int, Long) = {
    val all = Files.walk(dir.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (all.length, all.map(_.length).sum)
  }
}

/** A seeded sweep of registry operators, one or more per library layer. */
object OperatorMix {
  /** (query, layer): the layer is the module whose function the query calls. */
  val queries: Seq[(String, String)] = Seq(
    "dedup_ngram_prefix" -> "llm",
    "bm25_search" -> "search",
    "pack_sequences" -> "prep",
    "product_rank" -> "graph",
    "events_stream" -> "streaming",
    "target_encode" -> "ml",
    "multimodal_features" -> "multimodal",
    "table_profile" -> "catalog")

  /** The SparkEntry shared frames these queries read. */
  val sharedFrames: Set[String] = Set("fact", "docShingles", "copurchase", "docTf")

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, data: String, run: Main.Run,
      tracer: Option[Tracer]): Unit = {
    val rng = new scala.util.Random(run.seed)
    val span: Spans = tracer.getOrElse(NoSpans)
    tracer.foreach(_.start())
    SparkEntry.sharedFrameBuilders.filter { case (n, _) => sharedFrames.contains(n) }
      .foreach { case (n, build) =>
        span(s"shared.$n")(materialize(build(spark, data)))
        Main.log(s"shared frame $n built")
      }
    tracer.foreach { t =>
      t.stop()
      run.trace += "shared.cache_mb" ->
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)
    }
    /** One pass over the queries in a fresh seeded order; the latencies
      * of the queries that succeeded. */
    def sweep(label: String, span: Spans): Seq[(String, Double)] =
      rng.shuffle(queries).flatMap { case (q, layer) =>
        val (r, dt) = run.clock(Main.attempt(
          span(s"$layer.$q")(materialize(SparkEntry.queries(q)(spark, data)))))
        Main.log(f"$q $label: ${dt * 1000}%.0fms ${r.fold(identity, _ => "ok")}")
        run.ops += Main.Op(s"$q $label", r.left.toOption, Nil)
        r.toOption.map(_ => q -> dt * 1000)
      }
    // warm-up: every query once, its result folded to an order-independent
    // digest for the correctness check, then one untimed sweep, so the
    // timed sweeps start with the JIT past the steepest part of its warm-up
    rng.shuffle(queries).foreach { case (q, _) =>
      val d = Main.attempt(Digests.resultDigest(SparkEntry.queries(q)(spark, data)))
      Main.log(s"warm-up $q: ${d.fold(identity, _ => "ok")}")
      run.ops += Main.Op(s"digest $q", d.left.toOption,
        d.toOption.map(v => Seq("query" -> Json.str(q), "digest" -> Json.str(v))).getOrElse(Nil))
    }
    sweep("warm-up sweep", NoSpans)
    run.endSetup()
    while (run.measuring) run.queryMs ++= run.timedPass(sweep(s"sweep${run.passes + 1}", NoSpans))._1
    tracer.foreach { t =>
      t.start()
      val (_, tracedS) = run.clock(sweep("traced", t))
      t.stop()
      val (_, afterS) = run.clock(sweep("after trace", NoSpans))
      run.trace ++= t.layerMetrics(Layers.all) ++ Seq(
        "pipeline.output_mb" -> 0.0, "pipeline.output_files" -> 0.0,
        "trace.pass_s" -> tracedS,
        "trace.overhead_frac" -> (tracedS / ((run.passS.lastOption.getOrElse(afterS) + afterS) / 2) - 1),
        "shared.memo_entries" -> Layers.cacheOnceEntries.toDouble)
      run.spans = t.spansJson
    }
  }
}

object Layers {
  /** The program's modules, as named in the per-layer metrics. */
  val all: Seq[String] = Seq("tables", "silver", "gold", "serving", "pipeline",
    "shared", "llm", "search", "prep", "graph", "streaming", "ml",
    "multimodal", "catalog")

  /** Size of CacheOnce's per-session memo, which grows by one fact and
    * one feature handle per run directory. */
  def cacheOnceEntries: Int = {
    val f = CacheOnce.getClass.getDeclaredField("memo")
    f.setAccessible(true)
    f.get(CacheOnce).asInstanceOf[Tables.SessionMemo[_, _]].values.size
  }
}
