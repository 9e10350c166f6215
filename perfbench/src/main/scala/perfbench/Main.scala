package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Pipeline
import graft.kg.{LlmChains, Neo4jUpsert}
import graft.sources.Sources

/** One benchmark run: a workload, measured for a number of seconds, with
  * its outputs checked. Prints one `PERFBENCH_RESULT {json}` line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scratch: Path, cpus: Int, expected: Path)

  /** What a workload reports: metrics by name as (value, unit). */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def check(ps: Seq[String]): Unit = problems ++= ps
  }

  /** Sizes of the generated inputs. */
  val LandingScale = Landing.Scale(customers = 750, suppliers = 50, parts = 1000, docs = 250, files = 5)
  val SetupsPerRun = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("scratch")), kv("cpus").toInt, Paths.get(kv("expected")))
    val res = new Result
    val code =
      try {
        args.workload match {
          case "kg_pipeline" => KgPipeline(args, res)
          case "llm_extract" => LlmExtract(args, res)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        if (res.problems.isEmpty) 0 else 1
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          res.problems += s"run aborted: $e"
          res.failed += 1
          res.attempted = res.attempted.max(1)
          1
      }
    res.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    res.info("problems") = res.problems.toSeq
    println("PERFBENCH_RESULT " + Json.result(res))
    SparkSession.getDefaultSession.foreach(_.stop())
    log("stopped")
    sys.exit(code)
  }

  /** A fresh local session whose scratch state lives under `scratch`. */
  def session(a: Args, tag: String): SparkSession = {
    SparkSession.getDefaultSession.foreach(_.stop())
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // bounded status bookkeeping: otherwise the retained heap grows
      // with the number of iterations a run happens to fit
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", a.scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.scratch.resolve(s"warehouse-$tag").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $msg")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Write the landing directory (untimed), then set up `SetupsPerRun`
    * times: a fresh session (untimed) and `prepare`, the workload's first
    * call into graft on it (timed). Returns the last session, the landing
    * directory and every set-up's seconds. */
  def landingSetups(a: Args)(prepare: (SparkSession, String) => Unit)
      : (SparkSession, Landing.Written, Seq[Double]) = {
    val landing = Landing.generate(a.scratch.resolve("landing"), a.seed, LandingScale)
    var spark: SparkSession = null
    val setups = (0 until SetupsPerRun).map { k =>
      spark = session(a, s"s$k")
      time(prepare(spark, landing.dir.toString))._2
    }
    log("set up")
    (spark, landing, setups)
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `iteration` until `seconds` have passed and at least `minIters`
    * ran; returns each iteration's (wall s, process CPU s). */
  def measure(seconds: Double, minIters: Int)(iteration: Int => Unit): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    val t0 = System.nanoTime()
    var i = 0
    while (i < minIters || (System.nanoTime() - t0) / 1e9 < seconds) {
      val c0 = Proc.cpuNs
      val (_, wall) = time(iteration(i))
      out += ((wall, (Proc.cpuNs - c0) / 1e9))
      i += 1
    }
    out.toSeq
  }

  /** The end-to-end metrics every workload reports: `runs` are the
    * samples of `run_s`, `iters` each iteration's (wall s, CPU s). */
  def endToEnd(res: Result, setupS: Double, runs: Seq[Double], iters: Seq[(Double, Double)], records: Long,
      queryMs: Seq[Double]): Unit = {
    val runS = Stats.median(runs)
    res.metrics("setup_s") = (setupS, "s")
    res.metrics("run_s") = (runS, "s")
    res.metrics("records_per_s") = (records / runS, "1/s")
    res.metrics("query_p50_ms") = (Stats.median(queryMs), "ms")
    res.metrics("cpu_s") = (Stats.median(iters.map(_._2)), "s")
    res.metrics("retained_heap_mb") = (Proc.retainedHeapMb(), "MB")
    res.info("iterations") = iters.size
    res.info("iteration_s") = iters.map(_._1)
    res.info("run_samples_s") = runs
    res.info("records") = records
  }

  def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Per-layer counter names kept for each span (the counters an
    * optimisation of that layer is most likely to move). */
  val AllCounters = Seq("wall_ms", "jobs", "tasks", "cpu_ms", "shuffle_mb", "driver_idle_ms", "rows_out")
  val NoShuffle = Seq("wall_ms", "jobs", "tasks", "cpu_ms", "driver_idle_ms", "rows_out")
  val MixCounters = AllCounters ++ Seq("planning_ms", "gc_ms")
  val KgSpans: Seq[(String, Seq[String])] = Seq(
    "pipeline.plan" -> Seq("wall_ms", "jobs", "tasks", "cpu_ms", "driver_idle_ms"),
    "sources.records" -> AllCounters, "pipeline.triples" -> AllCounters, "kg.nodes" -> AllCounters,
    "kg.edges" -> AllCounters, "kg.upsert.assemble" -> AllCounters, "kg.upsert.send" -> NoShuffle)
  val LlmSpans: Seq[(String, Seq[String])] = Seq(
    "sources.batches" -> AllCounters, "kg.llm.invoke" -> NoShuffle, "kg.llm.extract" -> AllCounters)
  val LlmCounters = Seq("calls" -> "count", "retries" -> "count", "throttled" -> "count",
    "records_per_call" -> "count", "inflight_avg" -> "count",
    "inflight_max" -> "count", "wait_ms" -> "ms", "prompt_kb" -> "KB", "useful_ratio" -> "ratio")
  val MixFamilies = Seq("graph", "dedup", "sim", "text", "kg.query")
  val MixSpans: Seq[(String, Seq[String])] = MixFamilies.map(_ -> MixCounters)

  def unitOf(counter: String): String = counter match {
    case c if c.endsWith("_ms") => "ms"
    case "shuffle_mb" => "MB"
    case _ => "count"
  }

  def names(spans: Seq[(String, Seq[String])]): Seq[(String, String)] =
    spans.flatMap { case (s, cs) => cs.map(c => s"$s.$c" -> unitOf(c)) }

  /** The per-layer metrics of every workload, with units, in report
    * order. */
  val PerLayer: Seq[(String, String)] =
    names(KgSpans ++ LlmSpans ++ MixSpans) ++ LlmCounters.map { case (c, u) => s"kg.llm.$c" -> u } ++
      OperatorMix.Stores.map(f => s"store.build.$f.wall_ms" -> "ms") :+ ("trace.overhead_ms" -> "ms")

  /** Fill the per-layer metrics: measured values where this workload
    * produced them, zero for layers it does not touch. */
  def perLayer(res: Result, spans: Map[String, Map[String, Double]], extra: Map[String, Double]): Unit = {
    res.metrics.clear()
    PerLayer.foreach { case (name, unit) =>
      val v = extra.getOrElse(name, {
        val i = name.lastIndexOf('.')
        spans.get(name.take(i)).flatMap(_.get(name.drop(i + 1))).getOrElse(0.0)
      })
      res.metrics(name) = (v, unit)
    }
  }
}

/** Hand-written JSON for the result line (no JSON library on the
  * classpath is shared by every Spark version). */
object Json {
  def str(s: String): String = graft.monitor.Monitor.jsonEscape(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + str(s) + "\""
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + str(k.toString) + "\":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(value).mkString("[", ",", "]")
    case x => "\"" + str(x.toString) + "\""
  }
  def result(r: Main.Result): String = {
    val metrics = r.metrics.map { case (k, (v, u)) =>
      "\"" + str(k) + "\":{\"value\":" + num(v) + ",\"unit\":\"" + str(u) + "\"}"
    }.mkString("{", ",", "}")
    s"""{"correct":${r.problems.isEmpty},"attempted":${r.attempted.max(1)},"failed":${r.failed},""" +
      s""""metrics":$metrics,"info":${value(r.info)}}"""
  }
}

/** The paper's flow, then queries: Pipeline.run over the landing
  * directory, nodes, fixed-size upsert batches and the upsert transport;
  * after each build, one pass of the operator mix. */
object KgPipeline {
  import Main._

  def apply(a: Args, res: Result): Unit = {
    // set-up ends with a plan: Pipeline.run lists the landing directory
    // and infers the sources' schemas, the rest is lazy
    val (spark, landing, setups) = landingSetups(a)((s, d) => Pipeline.run(s, d, chain = CountingStub))
    val dir = landing.dir.toString

    def triplesOf(df: DataFrame): Seq[Landing.Triple] =
      df.select("subject", "subject_type", "relation", "object", "object_type").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toSeq
    def nodesOf(df: DataFrame): Seq[Checks.Node] =
      df.select("label", "name").collect().map(r => (r.getString(0), r.getString(1))).toSeq

    // warm-up build, untimed and fully checked: record count, RDF
    // triples, batch row counts; its triples fix the expected graph
    val warm = Pipeline.run(spark, dir, chain = CountingStub)
    val warmTriples = triplesOf(warm.triples)
    res.check(Checks.kgTriples(warm.records.count(), landing.records, warmTriples, landing.rdfTriples))
    val graph = Checks.expectedGraph(warmTriples)
    val warmBatches = Neo4jUpsert.edgeUpsertBatchesBySize(warm.edges, 500)
      .select("n_rows", "rows_json").collect()
    res.check(Checks.batchCounts(warmBatches.map(_.getLong(0)).toSeq, warmBatches.map(_.getString(1)).toSeq))
    res.info("triples") = warmTriples.size
    res.info("stub_triples") = warmTriples.count(_._2 == "text")
    res.info("nodes") = graph._1.size
    res.info("edges") = graph._2.size

    // a build is the paper's flow: the pipeline, its nodes, fixed-size
    // upsert batches and the transport
    def build(traced: Option[(Tracer, SpanStats)]): Unit = {
      RecordingTransport.drain()
      res.attempted += 1
      val problems = traced match {
        case None =>
          val out = Pipeline.run(spark, dir, chain = CountingStub)
          val nodes = nodesOf(out.nodes)
          Neo4jUpsert.run(Neo4jUpsert.edgeUpsertBatchesBySize(out.edges, 500), RecordingTransport)
          Checks.kgGraph(graph, nodes, RecordingTransport.drain())
        case Some((tr, st)) =>
          val out = tr.span(st, "pipeline.plan")(Pipeline.run(spark, dir, chain = CountingStub))(_ => 0L)
          val (rec, n) = tr.span(st, "sources.records")(persisted(out.records))(_._2)
          val (tri, _) = tr.span(st, "pipeline.triples")(persisted(out.triples))(_._2)
          val (nod, _) = tr.span(st, "kg.nodes")(persisted(out.nodes))(_._2)
          val (edg, _) = tr.span(st, "kg.edges")(persisted(out.edges))(_._2)
          val (bat, _) = tr.span(st, "kg.upsert.assemble")(
            persisted(Neo4jUpsert.edgeUpsertBatchesBySize(edg, 500)))(_._2)
          tr.span(st, "kg.upsert.send")(Neo4jUpsert.run(bat, RecordingTransport))(
            _ => RecordingTransport.batches.size.toLong)
          val ps = Checks.kgTriples(n, landing.records, triplesOf(tri), landing.rdfTriples) ++
            Checks.kgGraph(graph, nodesOf(nod), RecordingTransport.drain())
          Seq(rec, tri, nod, edg, bat).foreach(_.unpersist())
          ps
      }
      if (problems.nonEmpty) res.failed += 1
      res.check(problems)
    }

    // the operator mix shares the session, so its store builds run on a
    // warm JVM and set-up is paid once per run; they are also the builds'
    // JIT warm-up
    val mix = new OperatorMix(a, res, spark)
    log("mix set up")
    // an iteration is a build, then one pass of the mix over what the
    // stores hold
    val builds = mutable.ArrayBuffer.empty[Double]
    def iteration(traced: Option[(Tracer, SpanStats)]): Unit = {
      builds += time(build(traced))._2
      mix.pass(traced)
      traced.foreach(_._2.endIteration())
    }
    val iters = measure(a.seconds, 3)(_ => iteration(None))
    log("measured")
    if (a.trace) {
      val tr = new Tracer(spark)
      val st = new SpanStats
      CountingStub.calls.set(0)
      tr.attach()
      val traced = measure(0, 2)(_ => iteration(Some((tr, st))))
      tr.detach()
      val overheadMs = (Stats.median(traced.map(_._1)) - Stats.median(iters.map(_._1))) * 1000
      perLayer(res, st.summary, mix.storeBuilds ++ Map(
        "kg.llm.calls" -> CountingStub.calls.get / traced.size.toDouble, "trace.overhead_ms" -> overheadMs))
    } else
      endToEnd(res, Stats.median(setups) + mix.setupS, builds.toSeq, iters, landing.records, mix.latencies.toSeq)
    mix.report()
    res.info("plan_setups_s") = setups
    res.info("llm_calls") = CountingStub.calls.get
    mix.close()
    deleteTree(landing.dir)
  }
}

/** The LLM seam: records → JSON batches → a modeled external LLM behind
  * RetryingChain → tolerant triple recovery. Each iteration is a load
  * pass over 90% of the batches and a refresh pass over all of them;
  * records carry the iteration number, so prompts repeat only within an
  * iteration. */
object LlmExtract {
  import Main._

  def readRecords(spark: SparkSession, dir: String): DataFrame =
    Sources.unionHeterogeneous(Seq(
      Sources.csv(spark, s"$dir/customers.csv"),
      Sources.tsv(spark, s"$dir/suppliers.tsv"),
      Sources.json(spark, s"$dir/parts.json", multiLine = true)))
      .withColumn("record_id", col("record_id").cast("long"))

  def isLoad(recordId: Long): Boolean = (recordId / 100) % 10 != 9

  def apply(a: Args, res: Result): Unit = {
    // set-up ends with the sources read: their schemas inferred
    val (spark, landing, setups) = landingSetups(a)((s, d) => readRecords(s, d))
    val dir = landing.dir.toString
    import spark.implicits._

    // the ground truth, straight from the records
    val byRecord = readRecords(spark, dir).toJSON.collect().toSeq
      .map(j => ModeledLlm.parse(s"[$j]").head)
      .map(r => r("record_id").toLong -> ModeledLlm.recordTriples(r))
    val wantAll = byRecord.flatMap(_._2).toSet
    val wantLoad = byRecord.filter(r => isLoad(r._1)).flatMap(_._2).toSet
    val chain = TimedChain(LlmChains.RetryingChain(ModeledLlm(a.seed)))

    def tripleOf(r: Row): Landing.Triple =
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))

    val llmTotals = mutable.ArrayBuffer.empty[Map[String, Double]]
    def iteration(i: Int, traced: Option[(Tracer, SpanStats)]): Unit = {
      LlmMeter.reset()
      val kept = new java.util.concurrent.atomic.AtomicLong
      def pass(name: String, batches: DataFrame, want: Set[Landing.Triple]): Unit = {
        res.attempted += 1
        try {
          val prompts = batches.select("batch_json").as[String]
          val got = traced match {
            case None =>
              LlmChains.extractTripletRows(LlmChains.invokePartitionwise(prompts, chain).toDF(), col("value")).collect()
            case Some((tr, st)) =>
              val (raw, _) = tr.span(st, "kg.llm.invoke")(
                persisted(LlmChains.invokePartitionwise(prompts, chain).toDF()))(_._2)
              val rows = tr.span(st, "kg.llm.extract")(
                LlmChains.extractTripletRows(raw, col("value")).collect())(_.length.toLong)
              raw.unpersist()
              rows
          }
          kept.addAndGet(got.length)
          val problems = Checks.llmTriples(name, got.map(tripleOf).toSeq, want)
          if (problems.nonEmpty) res.failed += 1
          res.check(problems)
        } catch {
          case NonFatal(e) =>
            res.failed += 1
            res.check(Seq(s"$name pass failed: $e"))
        }
      }
      val recs = readRecords(spark, dir).withColumn("iter", lit(i))
      val batches = traced match {
        case None => Sources.jsonBatches(recs, "record_id", 100)
        case Some((tr, st)) =>
          val (rec, _) = tr.span(st, "sources.records")(persisted(recs))(_._2)
          tr.span(st, "sources.batches")(persisted(Sources.jsonBatches(rec, "record_id", 100)))(_._2)._1
      }
      pass("load", batches.filter(col("batch_id") % 10 =!= 9), wantLoad)
      pass("refresh", batches, wantAll)
      traced.foreach { _ => batches.unpersist(); recs.unpersist() }
      import LlmMeter._
      llmTotals += Map(
        "calls" -> calls.get.toDouble, "retries" -> retries.get.toDouble,
        "throttled" -> throttled.get.toDouble,
        "records_per_call" -> records.get.toDouble / completions.get.max(1L),
        "inflight_avg" -> inflightSum.get.toDouble / calls.get.max(1L),
        "inflight_max" -> inflightMax.get.toDouble,
        "wait_ms" -> waitNs.get / 1e6, "prompt_kb" -> promptBytes.get / 1024.0,
        "useful_ratio" -> kept.get.toDouble / fragments.get.max(1L))
      traced.foreach(_._2.endIteration())
    }

    iteration(-1, None) // warm-up
    llmTotals.clear()
    LlmMeter.latenciesNs.clear()
    val iters = measure(a.seconds, 2)(i => iteration(i, None))
    // the query latency is one prompt's, retries included, as the
    // Spark task calling the chain sees it
    val promptMs = LlmMeter.latenciesNs.asScala.map(_.longValue / 1e6).toSeq
    val untraced = llmTotals.toSeq
    res.info("llm_calls") = Stats.median(untraced.map(_("calls")))
    res.info("llm") = untraced.last
    if (a.trace) {
      llmTotals.clear()
      val tr = new Tracer(spark)
      val st = new SpanStats
      tr.attach()
      val traced = measure(0, 2)(i => iteration(1000 + i, Some((tr, st))))
      tr.detach()
      // the LLM counters come from the untraced iterations: persisting the
      // batch frame changes its partitioning, and with it the concurrency
      val llm = untraced.head.keys.map(k => s"kg.llm.$k" -> Stats.median(untraced.map(_(k)))).toMap
      perLayer(res, st.summary, llm + ("trace.overhead_ms" ->
        (Stats.median(traced.map(_._1)) - Stats.median(iters.map(_._1))) * 1000))
    } else endToEnd(res, Stats.median(setups), iters.map(_._1), iters, landing.records, promptMs)
    res.info("setups_s") = setups
    deleteTree(landing.dir)
  }
}

/** The query-many read path: registered faces of the graph, dedup, sim,
  * text and kg families over seeded sf tables, each collected and checked.
  * Constructing it is the mix's set-up: the tables are written (untimed),
  * then one checked pass builds every store the faces read (GraftStore
  * tables are per session). */
final class OperatorMix(a: Main.Args, res: Main.Result, spark: SparkSession) {
  import Main._
  import OperatorMix._

  private val want = expected(a)
  private val dir = a.scratch.resolve("sf")
  val tableRows: Long = SfGen.write(spark, dir.toString)

  private def run(face: String): (Long, String) = {
    val df = graft.SparkEntry.queries(face)(spark, dir.toString)
    val rows = df.collect()
    (rows.length.toLong, Checks.canon(df.columns.toSeq, rows.toSeq))
  }

  private val setupMs = mutable.LinkedHashMap.empty[String, Double]
  Faces.foreach { f =>
    val ((rows, hash), s) = time(run(f))
    setupMs(f) = s * 1000
    res.check(Checks.face(f, rows, hash, want.get(f)))
  }
  /** Seconds the store-building pass took. */
  val setupS: Double = setupMs.values.sum / 1000

  /** `store.build.<family>.wall_ms`: the first executions of the
    * family's faces, which build its stores. */
  def storeBuilds: Map[String, Double] = Stores.map { s =>
    s"store.build.$s.wall_ms" -> Faces.filter(f => family(f).startsWith(s)).map(setupMs).sum
  }.toMap

  // a pass's rotation start comes from the seed
  private val order = {
    val r = java.lang.Math.floorMod(a.seed, Faces.size.toLong).toInt
    Faces.drop(r) ++ Faces.take(r)
  }
  /** Every face execution's milliseconds, in order. */
  val latencies = mutable.ArrayBuffer.empty[Double]
  private val seen = mutable.LinkedHashMap.empty[String, Long]
  private val faceMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Every face once, in the seed's rotation; traced as one span per
    * family. */
  def pass(traced: Option[(Tracer, SpanStats)]): Unit =
    order.foreach { f =>
      res.attempted += 1
      try {
        val ((rows, hash), s) = traced match {
          case None => time(run(f))
          case Some((tr, st)) => time(tr.span(st, family(f))(run(f))(_._1))
        }
        latencies += s * 1000
        faceMs.getOrElseUpdate(f, mutable.ArrayBuffer.empty) += s * 1000
        seen(f) = rows
        val problems = Checks.face(f, rows, hash, want.get(f))
        if (problems.nonEmpty) res.failed += 1
        res.check(problems)
      } catch {
        case NonFatal(e) =>
          res.failed += 1
          res.check(Seq(s"$f failed: $e"))
      }
    }

  def report(): Unit = {
    res.info("face_rows") = seen
    res.info("face_ms") = faceMs.map { case (f, v) => f -> Stats.median(v.toSeq) }
    res.info("setup_face_ms") = setupMs
    res.info("table_rows") = tableRows
  }

  def close(): Unit = deleteTree(dir)
}

object OperatorMix {
  val Faces: Seq[String] = Seq(
    "graph_sssp", "dedup_substring", "sim_filtered", "text_bpe_encode", "kg_two_hop", "kg_cypher_sized")
  val Stores: Seq[String] = Seq("graph", "dedup", "sim", "text", "kg")

  def family(face: String): String = face.takeWhile(_ != '_') match {
    case "kg" => "kg.query"
    case f => f
  }

  def expected(a: Main.Args): Map[String, (Long, String)] = {
    val p = a.expected.resolve("operator_mix.tsv")
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(f, r, h) => f -> (r.toLong, h) }.toMap
  }
}
