package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables
import graft.functions.{SimHash, TextExprs, TextFns, VectorExprs}
import graft.pipeline.TickerFeaturePipeline

/** One unit of work in a pass: a registry query, a column-builder drain, or
  * one stage of the ticker store write/refresh/read-back. */
sealed trait Step { def name: String }
final case class Query(name: String) extends Step
/** Applies one public column builder to the workload's own rows, repeated
  * `times` over, and drains the result through the no-op sink. */
final case class Builder(name: String, table: String, times: Int,
                         apply: (DataFrame, Long) => DataFrame) extends Step
final case class Store(name: String) extends Step

object Workloads {
  private def q(names: String*): Seq[Step] = names.map(Query(_))
  // builder inputs are repeated so the expression, not job launch, sets the
  // step time
  private val TextTimes = 10
  private val VectorTimes = 20
  private def text(name: String)(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Step =
    Builder(name, "documents", TextTimes,
      (d, _) => d.withColumn("toks", TextFns.tokens(col("text"))).select(f(col("toks")).as("v")))
  private def vector(name: String)(f: Long => org.apache.spark.sql.Column): Step =
    Builder(name, "embeddings", VectorTimes, (d, seed) => d.select(f(seed).as("v")))

  val byName: Map[String, Seq[Step]] = Map(
    // the paper's pipeline (p1 is rows-only; p8 judges its own rows by
    // oracle), the static encoding, then the per-ticker store: write,
    // refresh, read back
    "ticker_store" -> (q("p1_ticker_pipeline", "p8_store_price_slice",
      "p2_static_encoding") ++
      Seq(Store("store_write"), Store("store_refresh"), Store("store_readback"))),
    // LLM-data curation: MinHash/LSH dedup, the suffix array's prefix-
    // doubling rounds, IVF and PQ vector search, then every custom text and
    // vector column builder over the workload's own rows
    "curation" -> (q("d21_minhash_md5_oracle", "d67_suffix_ranks", "e3_knn_ivf",
      "e8_pq_adc_topk") ++ Seq(
      text("simhash64")(SimHash.simhash64),
      text("shingle_min_hash")(TextExprs.shingleMinHash(_, 3, 16)),
      Builder("winnowing_fingerprint", "documents", TextTimes,
        (d, _) => d.select(TextExprs.winnowingFingerprint(col("text"), 5, 4).as("v"))),
      vector("cosine")(_ => VectorExprs.cosine(col("embedding"), reverse(col("embedding")))),
      vector("dot")(_ => VectorExprs.dot(col("embedding"), reverse(col("embedding")))),
      vector("pq_encode_codes")(seed => VectorExprs.pqEncodeCodes(col("embedding"), Codebooks.pq(seed))),
      vector("pq_lut")(seed => VectorExprs.pqLut(col("embedding"), Codebooks.pq(seed))),
      vector("nearest_cells") { seed =>
        val (ids, mat) = Codebooks.cells(seed)
        VectorExprs.nearestCells(col("embedding"), ids, mat, 4)
      })))
}

/** Seeded fixed matrices for the vector builders (64-dim embeddings). */
object Codebooks {
  private val Dim = 64
  def pq(seed: Long): Array[Array[Array[Double]]] = {
    val r = new scala.util.Random(seed)
    Array.fill(8, 16, Dim / 8)(r.nextGaussian())
  }
  def cells(seed: Long): (Array[Long], Array[Array[Double]]) = {
    val r = new scala.util.Random(seed + 1)
    ((0L until 32L).toArray, Array.fill(32, Dim)(r.nextGaussian()))
  }
}

/** Order-independent result digest, computed identically by the oracle side
  * (perfbench/digest.py): columns in name order, values in a canonical text
  * form (floats to 10 significant digits, half-even), per-row SHA-256, rows
  * combined by a 64-bit sum. */
object Digest {
  private val mc = new java.math.MathContext(10, java.math.RoundingMode.HALF_EVEN)

  def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) { if (d > 0) "Inf" else "-Inf" }
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  def of(columns: Seq[String], rows: Iterator[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    val head = md.digest(columns.sorted.mkString("\u001f").getBytes("UTF-8"))
      .take(4).map(x => f"${x & 0xff}%02x").mkString
    f"$n:$sum%016x:$head"
  }
}

/** Peak resident set size of this process (driver and local executors),
  * sampled from /proc/self/status while a pass runs. */
final class RssSampler extends Thread("perfbench-rss") {
  setDaemon(true)
  @volatile private var peakKb = 0L
  @volatile var running = true
  private def rssKb(): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmRSS:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  } catch { case _: Exception => 0L }
  def reset(): Unit = peakKb = rssKb()
  def peakMb: Double = peakKb / 1024.0
  override def run(): Unit = while (running) {
    val k = rssKb()
    if (k > peakKb) peakKb = k
    Thread.sleep(10)
  }
}

final class StepResult(val name: String, val kind: String) {
  var buildS = 0.0; var consumeS = 0.0; var writeS = 0.0; var hashS = 0.0
  var benchS = 0.0
  var digest = ""; var rows = -1L; var jobs = 0; var error = ""
  val spanIds = ArrayBuffer[Int]()
  val extra = mutable.LinkedHashMap[String, Double]()
}

final class PassResult(val index: Int, val traced: Boolean, val span: Span) {
  val steps = ArrayBuffer[StepResult]()
  var wallS = 0.0; var rssMb = 0.0
  val layers = mutable.LinkedHashMap[String, Double]()
  var stepLayers = Seq.empty[(String, Seq[(String, Double)])]
  def benchS: Double = steps.map(_.benchS).sum
  def passS: Double = wallS - benchS
}

object Harness {
  /** Warm-up passes before timing. The first pass runs about twice as slow
    * as a steady one and the second still 10-20 % slower, but a second
    * warm-up pass does not fit the benchmark's time budget; the timed passes
    * are the second and later ones. */
  private val WarmRounds = 1
  /** Phases that are the benchmark's own work, never charged to the program. */
  val BenchPhases = Set("digest", "prep")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val steps = Workloads.byName.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val spans = new Spans
    val runSpan = spans.open(0, "run")

    val spark = graft.Verify.makeSession("4")
    val sc = spark.sparkContext
    val counter = new JobCounter
    sc.addSparkListener(counter)
    val tracer = new TraceListener
    val rss = new RssSampler
    rss.start()

    def runPass(index: Int, src: String, trace: Boolean): PassResult = {
      val dir = work.resolve(s"pass-$index")
      copyTree(Paths.get(src), dir)
      val session = spark.newSession()
      if (trace) {
        tracer.reset(); sc.addSparkListener(tracer); session.listenerManager.register(tracer)
      }
      val codegen0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ps = spans.open(runSpan.id, s"pass-$index")
      val pass = new PassResult(index, trace, ps)
      rss.reset()
      val t0 = System.nanoTime()
      val ctx = new StepContext(session, dir.toString, seed, spans, tracer, trace)
      steps.foreach { s =>
        val r = ctx.run(s, ps)
        pass.steps += r
        println(f"[perfbench] pass $index ${r.name} build ${r.buildS}%.3f consume ${r.consumeS}%.3f " +
          f"write ${r.writeS}%.3f hash ${r.hashS}%.3f bench ${r.benchS}%.3f rows ${r.rows} ${r.error}")
      }
      pass.wallS = (System.nanoTime() - t0) / 1e9
      spans.close(ps)
      pass.rssMb = rss.peakMb
      org.apache.spark.perfbench.ListenerBusBridge.drain(sc)
      pass.steps.foreach(r => r.jobs = counter.jobs(r.spanIds))
      if (trace) {
        pass.layers ++= Layers.of(pass, tracer, spans, sc,
          org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0)
        pass.stepLayers = Layers.perStep(pass, tracer)
        session.listenerManager.unregister(tracer); sc.removeSparkListener(tracer)
      }
      // isolation: nothing computed in this pass survives into the next one
      session.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      deleteTree(dir)
      pass
    }

    val warm = (1 to WarmRounds).map(i => runPass(-i, a("inputs"), trace = false))
    val readyUs = Clock.nowUs
    val passes = ArrayBuffer[PassResult]()
    val timedStart = System.nanoTime()
    // at least two timed passes, whose median halves the pass-to-pass noise.
    // A traced run alternates untraced and traced passes, at least three, so
    // the traced pass sits between two untraced ones as the JIT keeps warming
    // and the difference of their pass_s estimates the tracing overhead.
    val minPasses = if (traced) 3 else 2
    while (passes.size < minPasses || (System.nanoTime() - timedStart) / 1e9 < seconds)
      passes += runPass(passes.size, a("inputs"), trace = traced && passes.size % 2 == 1)
    spans.close(runSpan)
    rss.running = false

    val json = Json.obj(
      "ready_epoch_us" -> Json.num(readyUs),
      "warm" -> Json.arr(warm.map(passJson)),
      "passes" -> Json.arr(passes.map(passJson)),
      "oracle_sql" -> Json.obj(steps.collect { case Query(n) => n }
        .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_))): _*))
    Files.writeString(Paths.get(a("out")), json)
    if (traced) Files.writeString(Paths.get(a("spans")), spansJson(spans, passes.filter(_.traced).toSeq))
    spark.stop()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally walk.close()
  }

  def dirBytes(p: Path): (Long, Int) = if (!Files.exists(p)) (0L, 0) else {
    val walk = Files.walk(p)
    try {
      val files = walk.iterator().asScala.filter(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
      (files.map(Files.size).sum, files.size)
    } finally walk.close()
  }

  private def passJson(p: PassResult): String = Json.obj(
    "index" -> Json.num(p.index), "traced" -> Json.bool(p.traced),
    "wall_s" -> Json.num(p.wallS), "pass_s" -> Json.num(p.passS),
    "bench_s" -> Json.num(p.benchS), "rss_mb" -> Json.num(p.rssMb),
    "layers" -> Json.obj(p.layers.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
    "steps" -> Json.arr(p.steps.map { r =>
      Json.obj("name" -> Json.str(r.name), "kind" -> Json.str(r.kind),
        "build_s" -> Json.num(r.buildS), "consume_s" -> Json.num(r.consumeS),
        "write_s" -> Json.num(r.writeS), "hash_s" -> Json.num(r.hashS),
        "bench_s" -> Json.num(r.benchS), "digest" -> Json.str(r.digest),
        "rows" -> Json.num(r.rows), "jobs" -> Json.num(r.jobs),
        "error" -> Json.str(r.error),
        "extra" -> Json.obj(r.extra.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    }))

  private def spansJson(spans: Spans, traced: Seq[PassResult]): String = {
    val all = spans.all
    val byId = all.map(s => s.id -> s).toMap
    val passIds = traced.map(_.span.id).toSet
    def inPass(s: Span): Boolean =
      passIds(s.id) || (s.parent != 0 && byId.get(s.parent).exists(inPass))
    val kept = all.filter(inPass)
    val self = traced.flatMap(p => spans.selfTimes(p.span)).toMap
    Json.obj(
      "passes" -> Json.arr(traced.map(p => Json.obj(
        "span" -> Json.num(p.span.id), "wall_s" -> Json.num(p.wallS),
        "span_s" -> Json.num(p.span.durUs / 1e6),
        "self_sum_s" -> Json.num(spans.selfTimes(p.span).values.sum / 1e6),
        "layers" -> Json.obj(p.layers.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
        "steps" -> Json.obj(p.stepLayers.map { case (n, ms) =>
          n -> Json.obj(ms.map { case (k, v) => k -> Json.num(v) }: _*) }: _*)))),
      "spans" -> Json.arr(kept.sortBy(_.id).map(s => Json.obj(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs),
        "self_us" -> Json.num(self.getOrElse(s.id, 0L))))))
  }
}

/** Runs steps inside one pass; every call into the program is wrapped in a
  * phase span whose id rides along as a local property on its jobs. */
final class StepContext(spark: SparkSession, dir: String, seed: Long, spans: Spans,
                        tracer: TraceListener, traced: Boolean) {
  private val sc = spark.sparkContext
  private val store = s"$dir/store"
  private val batch = s"$dir/refresh_batch"
  private var p1Rows = -1L
  private var merged: DataFrame = null
  private var mergedHash = ""

  private def phase[A](r: StepResult, parent: Span, name: String)(body: => A): A = {
    val s = spans.open(parent.id, name)
    if (!Harness.BenchPhases(name)) r.spanIds += s.id
    sc.setLocalProperty(StepProperty.Key, s.id.toString)
    tracer.currentSpan = s.id
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      if (traced) org.apache.spark.perfbench.ListenerBusBridge.drain(sc)
      sc.setLocalProperty(StepProperty.Key, null)
      spans.close(s)
      name match {
        case "build" => r.buildS += dt
        case "consume" => r.consumeS += dt
        case "write" => r.writeS += dt
        case "hash" => r.hashS += dt
        case _ => r.benchS += dt
      }
    }
  }

  def run(step: Step, pass: Span): StepResult = {
    val r = new StepResult(step.name, step match {
      case _: Query => "query"; case _: Builder => "builder"; case _: Store => "store"
    })
    val ss = spans.open(pass.id, s"step:${step.name}")
    try step match {
      case Query(name) =>
        val df = phase(r, ss, "build")(SparkEntry.queries(name)(spark, dir))
        val rows = phase(r, ss, "consume")(df.collect())
        r.rows = rows.length
        if (name == "p1_ticker_pipeline") p1Rows = rows.length
        r.digest = phase(r, ss, "digest")(Digest.of(df.columns.toSeq, rows.iterator))
      case Builder(name, table, times, apply) =>
        val obs = Observation(s"rows_${name}_${ss.id}")
        val df = phase(r, ss, "build")(apply(Tables.load(spark, dir, table)
          .withColumn("__rep", explode(sequence(lit(1), lit(times)))), seed)
          .observe(obs, count(lit(1)).as("n")))
        phase(r, ss, "consume")(df.write.format("noop").mode("overwrite").save())
        r.rows = obs.get("n").asInstanceOf[Long]
        r.extra("times") = times
      case Store(name) => runStore(name, r, ss)
    } catch {
      case e: Throwable =>
        r.error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    } finally spans.close(ss)
    r
  }

  private def runStore(name: String, r: StepResult, ss: Span): Unit = name match {
    case "store_write" =>
      val p1 = phase(r, ss, "build")(SparkEntry.queries("p1_ticker_pipeline")(spark, dir))
      phase(r, ss, "write")(TickerFeaturePipeline.writeStore(p1, store))
      val (bytes, files) = phase(r, ss, "prep")(Harness.dirBytes(Paths.get(store)))
      r.rows = p1Rows
      r.extra("store_bytes") = bytes.toDouble
      r.extra("files") = files
    case "store_refresh" =>
      val (cols, schema, before) = phase(r, ss, "prep") {
        // read the store back with the schema it was written with (ticker
        // stays a string, not an inferred partition integer)
        val schema = SparkEntry.queries("p1_ticker_pipeline")(spark, dir).schema
        val cols = schema.fieldNames.toSeq
        val cur = spark.read.schema(schema).parquet(store)
        // seeded refresh batch: ~10% of the stored rows with a changed
        // value and ~5% new (ticker, as_of) keys one day later
        val pick = pmod(xxhash64(col("ticker"), col("as_of"), lit(seed)), lit(100))
        val changed = cur.filter(pick < 10)
          .withColumn("volatility", col("volatility") + lit(1.0f))
        val fresh = cur.filter(pick >= 95)
          .withColumn("as_of", date_add(col("as_of"), 1))
        changed.unionByName(fresh).select(cols.map(col): _*)
          .coalesce(1).write.mode("overwrite").parquet(batch)
        (cols, schema, listFiles(store))
      }
      val storeDf = spark.read.schema(schema).parquet(store).select(cols.map(col): _*)
      merged = phase(r, ss, "build")(TickerFeaturePipeline.merge(storeDf, spark.read.parquet(batch)))
      // the refresh reads the store it overwrites: materialize first
      merged = phase(r, ss, "consume")(merged.localCheckpoint(eager = true))
      mergedHash = phase(r, ss, "write")(TickerFeaturePipeline.writeStore(merged, store))
      phase(r, ss, "prep") {
        val after = listFiles(store)
        val written = after.filter { case (p, m) => !before.get(p).contains(m) }.keys
          .map(p => Files.size(Paths.get(p))).sum
        r.rows = merged.count()
        r.extra("batch_bytes") = Harness.dirBytes(Paths.get(batch))._1.toDouble
        r.extra("written_bytes") = written.toDouble
      }
    case "store_readback" =>
      require(merged != null, "store_readback needs store_refresh first")
      val back = phase(r, ss, "build")(spark.read.schema(merged.schema).parquet(store)
        .select(merged.columns.map(col).toSeq: _*))
      val h = phase(r, ss, "hash")(TickerFeaturePipeline.contentHash(back))
      r.digest = h
      r.rows = phase(r, ss, "prep")(merged.count())
      if (h != mergedHash) r.error = s"read-back hash $h != merged frame hash $mergedHash"
  }

  /** data file path → (size, mtime), to tell rewritten files from kept ones */
  private def listFiles(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).map { f =>
        f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally walk.close()
    }
  }
}

/** Per-layer metrics of one traced pass. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Engine metrics of the jobs, tasks and query executions whose phase span
    * passes `keep`. */
  private def engine(t: TraceListener, keep: Int => Boolean): Seq[(String, Double)] = {
    val jobs = t.jobs.values.asScala.toSeq.filter(j => j.endUs >= 0 && keep(j.span))
    val stageIds = jobs.flatMap(_.stageIds).toSet
    val agg = new TaskAgg
    t.tasks.asScala.foreach { case (span, a) => if (keep(span)) a.synchronized(agg.add(a)) }
    val plans = t.plans.asScala.toSeq.filter(r => keep(r.span))
    Seq(
      "plan.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> plans.map(_.planningMs).sum / 1e3,
      "plan.executions" -> plans.size.toDouble,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stageIds.count(t.stages.containsKey).toDouble,
      "sched.stages_skipped" -> stageIds.count(id => !t.ran(id)).toDouble,
      "sched.tasks" -> agg.tasks.toDouble,
      "exec.task_run_s" -> agg.runMs / 1e3,
      "exec.task_cpu_s" -> agg.cpuNs / 1e9,
      "exec.gc_s" -> agg.gcMs / 1e3,
      "exec.shuffle_write_mb" -> agg.shufWrite / MB,
      "exec.shuffle_read_mb" -> agg.shufRead / MB,
      "exec.shuffle_wait_s" -> agg.fetchWaitMs / 1e3,
      "exec.spill_mb" -> agg.spill / MB,
      "exec.peak_task_mem_mb" -> agg.peakMem / MB,
      "core.input_mb" -> agg.inBytes / MB,
      "core.input_rows" -> agg.inRows.toDouble)
  }

  /** Each step's phase times and the engine metrics of its own jobs. */
  def perStep(p: PassResult, t: TraceListener): Seq[(String, Seq[(String, Double)])] =
    p.steps.toSeq.map { r =>
      val ids = r.spanIds.toSet
      r.name -> (Seq("build_s" -> r.buildS, "consume_s" -> r.consumeS, "write_s" -> r.writeS,
        "hash_s" -> r.hashS, "bench_s" -> r.benchS) ++ engine(t, ids))
    }

  /** The pass's per-layer metrics; also hangs job and stage spans under the
    * phase spans that submitted them. */
  def of(p: PassResult, t: TraceListener, spans: Spans,
         sc: org.apache.spark.SparkContext, codegenCompiles: Long): Seq[(String, Double)] = {
    val bench = spans.all.filter(s => Harness.BenchPhases(s.name)).map(_.id).toSet
    val stageOwner = mutable.Set[Int]()
    t.jobs.values.asScala.toSeq.filter(_.endUs >= 0).sortBy(_.jobId).foreach { j =>
      val js = spans.add(j.span, s"job:${j.jobId}", j.startUs, j.endUs)
      j.stageIds.filter(stageOwner.add).foreach { id =>
        Option(t.stages.get(id)).foreach(s => spans.add(js.id, s"stage:$id", s.startUs, s.endUs))
      }
    }
    // pass time covered by the program's jobs: the union of their intervals
    val iv = t.jobs.values.asScala.toSeq.filter(j => j.endUs >= 0 && !bench(j.span))
      .map(j => (math.max(j.startUs, p.span.startUs), math.min(j.endUs, p.span.endUs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var cur = Long.MinValue
    iv.foreach { case (s, e) =>
      val s2 = math.max(s, cur)
      if (e > s2) { covered += e - s2; cur = e }
    }
    val eng = engine(t, span => !bench(span)).toMap
    val rowsOut = p.steps.filter(_.rows > 0).map(_.rows).sum.toDouble
    val stores = p.steps.filter(_.kind == "store")
    val builders = p.steps.filter(r => r.kind == "builder" && r.error.isEmpty).map(r =>
      s"functions.${r.name}_rows_per_s" -> r.rows / math.max(1e-9, r.buildS + r.consumeS))
    Seq("queries.build_s" -> p.steps.map(_.buildS).sum) ++
      eng.view.filterKeys(_.startsWith("plan.")).toSeq ++
      Seq("plan.codegen_compiles" -> codegenCompiles.toDouble,
        "sched.driver_gap_s" -> (p.passS - covered / 1e6),
        "exec.slot_busy_share" -> eng("exec.task_run_s") / (p.passS * 4),
        "core.rows_read_per_row_out" -> eng("core.input_rows") / math.max(1.0, rowsOut),
        "core.rdds_materialized" -> t.rddsMaterialized.size.toDouble,
        "core.rdds_unpersisted" -> t.rddsUnpersisted.get.toDouble,
        "core.rdds_live_after" -> sc.getPersistentRDDs.size.toDouble,
        "sinks.write_s" -> p.steps.map(_.writeS).sum,
        "sinks.hash_s" -> p.steps.map(_.hashS).sum,
        "sinks.bytes_written_mb" -> stores.map(r =>
          r.extra.getOrElse("written_bytes", r.extra.getOrElse("store_bytes", 0.0))).sum / MB,
        "sinks.files_written" -> stores.map(_.extra.getOrElse("files", 0.0)).sum,
        "bench.consume_s" -> p.benchS) ++
      eng.view.filterKeys(k => !k.startsWith("plan.")).toSeq ++ builders
  }
}

/** Minimal JSON writer. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
